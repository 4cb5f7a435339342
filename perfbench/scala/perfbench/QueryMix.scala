package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

/** The `query_mix` runner: one fresh JVM runs the named
  * `graft.SparkEntry.queries` once each, in the given order, into the
  * [[DigestSink]] (the `noop` sink plus a row count and content digest),
  * and writes one JSON object.
  *
  * Why this shape: at this scale a query's cost is mostly fixed cost
  * (Janino compile, job count, driver gaps), and that cost is paid on a
  * query's first execution in a JVM. So the set-up warms the session with
  * one generic scan and aggregate only, never with query-specific warmers,
  * and every timed query is a first execution.
  *
  * The caller compares each query's row count and digest with the pinned
  * values; the runner itself only reports them.
  *
  * Usage: `QueryMix <sfDir> <q1,q2,...> <out.json> <trace 0|1> <cpus>`.
  * With trace 1 the [[Trace]] listeners are attached by API and each query
  * call is recorded as a mark with its build and exec phases.
  */
object QueryMix {
  private def now(): Long = System.currentTimeMillis()

  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def vmHwmKb(): Long = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toLong
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, names, out, traceFlag, cpus) = args
    val trace = traceFlag == "1"
    val order = names.split(",").toSeq.filter(_.nonEmpty)
    val queries = graft.SparkEntry.queries
    val missing = order.filterNot(queries.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")

    val t0 = now()
    val spark = graft.Sessions.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (trace) {
      Trace.appStarted(spark.sparkContext.startTime, cpus.toInt)
      spark.sparkContext.addSparkListener(new TraceListener())
      spark.listenerManager.register(new TraceQueryListener())
    }
    // generic warm-up: one scan and one aggregate, nothing query-specific
    spark.read.parquet(s"$sfDir/lineitem.parquet").groupBy(col("l_returnflag"))
      .agg(count(lit(1)), sum(col("l_quantity")))
      .write.format("noop").mode("overwrite").save()
    val setupMs = now() - t0
    val cpu0 = osBean.getProcessCpuTime

    val rows = order.map { name =>
      val fn = queries(name)
      val c0 = Trace.compileNs()
      val n0 = Trace.compiles()
      DigestSink.reset()
      val a = now()
      val (buildMs, execMs, err) =
        try {
          val df = fn(spark, sfDir)
          val b = now()
          df.write.format(classOf[DigestSink].getName).mode("overwrite").save()
          (b - a, now() - b, "")
        } catch { case e: Throwable => (now() - a, 0L, String.valueOf(e.getMessage)) }
      if (trace) {
        Trace.mark("name" -> name, "start_ms" -> a, "build_end_ms" -> (a + buildMs),
          "end_ms" -> (a + buildMs + execMs), "compile_ns" -> (Trace.compileNs() - c0),
          "compiles" -> (Trace.compiles() - n0))
      }
      spark.catalog.clearCache()
      graft.functions.Checkpoints.releaseAll()
      (name, buildMs, execMs, err, DigestSink.result)
    }
    val timedEnd = now()
    val timedCpuNs = osBean.getProcessCpuTime - cpu0
    val hwmKb = vmHwmKb()

    val body = Trace.obj(
      "setup_ms" -> setupMs, "timed_start_ms" -> (t0 + setupMs),
      "timed_end_ms" -> timedEnd, "timed_cpu_ns" -> timedCpuNs, "vm_hwm_kb" -> hwmKb
    ).dropRight(1) + ",\"queries\":" + rows.map { case (name, b, e, err, (n, d)) =>
      Trace.obj("name" -> name, "build_ms" -> b, "exec_ms" -> e, "error" -> err,
        "rows" -> n, "digest" -> d, "oracle" -> graft.SparkEntry.oracleSql.contains(name))
    }.mkString("[", ",", "]") + "}"
    Files.write(Paths.get(out), body.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
