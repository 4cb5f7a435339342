package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkConf
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Raw event recorder for the traced benchmark runs. It lives entirely in
  * the benchmark: the three listener classes below are attached from
  * outside the program (`-Dspark.extraListeners`,
  * `-Dspark.sql.queryExecutionListeners`,
  * `-Dspark.sql.streaming.streamingQueryListeners` in the collector's
  * JVM; by API in the query runner) and write into this one store.
  *
  * Nothing is analysed here. The store keeps jobs, stages, SQL actions,
  * streaming queries, micro-batches and caller-supplied marks in memory,
  * with epoch-millisecond times, and writes them as one JSON object when
  * the application ends (or at JVM exit, whichever comes first). The
  * Python side builds the span tree and the per-layer metrics from it.
  */
object Trace {
  private val lock = new Object
  private val jobs = ArrayBuffer[String]()
  private val stages = ArrayBuffer[String]()
  private val actions = ArrayBuffer[String]()
  private val streams = ArrayBuffer[String]()
  private val batches = ArrayBuffer[String]()
  private val marks = ArrayBuffer[String]()
  private val executions = ArrayBuffer[String]()
  private val jobStart = scala.collection.mutable.Map[Int, (Long, String, Long, Seq[Int])]()
  private var appStart = 0L
  private var appEnd = 0L
  private var cores = 0
  private val written = new AtomicBoolean(false)
  private val compileNs0 = compileNs()
  private val compiles0 = compiles()

  def compileNs(): Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
  def compiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  sys.addShutdownHook(write())

  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def obj(kv: (String, Any)*): String = kv.map { case (k, v) =>
    str(k) + ":" + (v match {
      case s: String => str(s)
      case m: Map[_, _] => obj(m.toSeq.map { case (a, b) => a.toString -> b }: _*)
      case xs: Seq[_] => xs.map {
        case s: String => str(s)
        case x => x.toString
      }.mkString("[", ",", "]")
      case x => x.toString
    })
  }.mkString("{", ",", "}")

  /** A caller-supplied span (query runner: one per query call, with its
    * build and exec phases), recorded as given. */
  def mark(kv: (String, Any)*): Unit = lock.synchronized { marks += obj(kv: _*) }

  def appStarted(t: Long, n: Int): Unit = lock.synchronized { appStart = t; cores = n }
  def appEnded(t: Long): Unit = { lock.synchronized { appEnd = t }; write() }

  def jobStarted(e: SparkListenerJobStart): Unit = lock.synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val site = prop("callSite.short").orElse(e.stageInfos.lastOption.map(_.name)).getOrElse("")
    val exec = prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L)
    jobStart(e.jobId) = (e.time, site, exec, e.stageIds)
  }

  def jobEnded(e: SparkListenerJobEnd): Unit = lock.synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, site, exec, ids) =>
      jobs += obj("id" -> e.jobId, "start_ms" -> t0, "end_ms" -> e.time,
        "site" -> site, "execution" -> exec, "stages" -> ids,
        "ok" -> (e.jobResult == JobSucceeded))
    }
  }

  /** SQL executions: jobs that AQE submits from its own threads carry no
    * user call site, but their execution's long call site does. */
  def executionStarted(id: Long, description: String, details: String): Unit =
    lock.synchronized {
      executions += obj("id" -> id, "description" -> description, "details" -> details)
    }

  def stageDone(s: StageInfo): Unit = lock.synchronized {
    val m = s.taskMetrics
    stages += obj("id" -> s.stageId, "attempt" -> s.attemptNumber(), "name" -> s.name,
      "start_ms" -> s.submissionTime.getOrElse(0L),
      "end_ms" -> s.completionTime.getOrElse(0L),
      "tasks" -> s.numTasks,
      "run_ms" -> (if (m == null) 0L else m.executorRunTime),
      "cpu_ns" -> (if (m == null) 0L else m.executorCpuTime),
      "gc_ms" -> (if (m == null) 0L else m.jvmGCTime),
      "shuffle_read_b" -> (if (m == null) 0L
        else m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead),
      "shuffle_write_b" -> (if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten),
      "spill_b" -> (if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled),
      "input_b" -> (if (m == null) 0L else m.inputMetrics.bytesRead),
      "output_b" -> (if (m == null) 0L else m.outputMetrics.bytesWritten))
  }

  def action(func: String, qe: QueryExecution, ok: Boolean): Unit = {
    val planMs = qe.tracker.phases.values.map(_.durationMs).sum
    lock.synchronized {
      actions += obj("func" -> func, "end_ms" -> System.currentTimeMillis(),
        "plan_ms" -> planMs, "ok" -> ok)
    }
  }

  def streamStarted(id: String, t: Long): Unit = lock.synchronized {
    streams += obj("id" -> id, "event" -> "start", "t_ms" -> t)
  }
  def streamEnded(id: String): Unit = lock.synchronized {
    streams += obj("id" -> id, "event" -> "end", "t_ms" -> System.currentTimeMillis())
  }
  def batch(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Unit = {
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    lock.synchronized {
      batches += obj("id" -> p.id.toString, "batch" -> p.batchId,
        "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "input_rows" -> p.numInputRows, "duration_ms" -> d)
    }
  }

  def write(): Unit = {
    val out = System.getProperty("perfbench.trace.out")
    if (out != null && written.compareAndSet(false, true)) lock.synchronized {
      val body = obj(
        "app_start_ms" -> appStart, "app_end_ms" -> appEnd, "cores" -> cores,
        "jvm_start_ms" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime,
        "codegen_compile_ns" -> (compileNs() - compileNs0),
        "codegen_compiles" -> (compiles() - compiles0)
      ).dropRight(1) +
        Seq("jobs" -> jobs, "stages" -> stages, "actions" -> actions,
          "streams" -> streams, "batches" -> batches, "marks" -> marks,
          "executions" -> executions)
          .map { case (k, v) => "," + str(k) + ":" + v.mkString("[", ",", "]") }.mkString +
        "}"
      Files.write(Paths.get(out), body.getBytes(StandardCharsets.UTF_8))
    }
  }
}

/** `spark.extraListeners` entry: scheduler events. */
class TraceListener(conf: SparkConf) extends SparkListener {
  def this() = this(new SparkConf(false))
  override def onApplicationStart(e: SparkListenerApplicationStart): Unit =
    Trace.appStarted(e.time, """local\[(\d+)\]""".r.findFirstMatchIn(conf.get("spark.master", ""))
      .map(_.group(1).toInt).getOrElse(Runtime.getRuntime.availableProcessors()))
  override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = Trace.appEnded(e.time)
  override def onJobStart(e: SparkListenerJobStart): Unit = Trace.jobStarted(e)
  override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.jobEnded(e)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.stageDone(e.stageInfo)
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      Trace.executionStarted(x.executionId, x.description, x.details)
    case _ =>
  }
}

/** `spark.sql.queryExecutionListeners` entry: one record per action. */
class TraceQueryListener extends QueryExecutionListener {
  override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
    Trace.action(func, qe, ok = true)
  override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit =
    Trace.action(func, qe, ok = false)
}

/** `spark.sql.streaming.streamingQueryListeners` entry: query start and
  * end, one record per micro-batch progress. */
class TraceStreamListener extends StreamingQueryListener {
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit =
    Trace.streamStarted(e.id.toString, java.time.Instant.parse(e.timestamp).toEpochMilli)
  override def onQueryProgress(e: QueryProgressEvent): Unit = Trace.batch(e.progress)
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = Trace.streamEnded(e.id.toString)
}
