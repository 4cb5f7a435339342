"""The repository's benchmark: one command, three workloads.

    python3 perfbench/run.py --workload <drain_oneshot|drain_resume|query_mix>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the program from source
(`perfbench/build.py`), generates its inputs from the seed (untimed), runs
the workload, checks every output (untimed) and prints one JSON object as
the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end metrics of BENCHMARK.json;
with `--trace 1` the same workload runs with Spark listeners attached from
outside the program (`perfbench/scala/perfbench/Trace.scala`) and the
metrics are the per-layer ones. A traced run also writes its span tree to
`.bench_build/traces/`. The line before the result is the run's
fingerprint (hardware, versions, seed, input sizes).

Why these workloads (BENCHMARK.json gates the last two):
  drain_resume   an incremental run against a landed lake (inline keeper,
                 ledger mining, validation on). The new data is small, so
                 lake-proportional work dominates: this is where O(lake)
                 checks show, while query_mix does not move. Its set-up
                 drain of the base lake is the one-time export below.
  query_mix      a fixed, stratified set of `SparkEntry.queries`, each run
                 once in a fresh JVM in a fixed order. At this
                 scale a query's cost is mostly fixed cost (codegen
                 compile, job count, driver gaps); the collector layers are
                 bypassed. This is the read side beside the drain.
  drain_oneshot  the reference's one-time export: a fresh Kafka-envelope
                 source drained by `graft.CollectorMain` in its own JVM with
                 every reference env knob at its default (deferred dedup, no
                 existing-lake check, validation on). Decode, flatten and
                 sink throughput dominate. Runnable, but not in
                 BENCHMARK.json: 22 more runs of a third workload do not
                 fit the hour the gated runs may take on a 4-core box.

Exit status is 0 only when every output checked correct.
"""
import argparse
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402

ROOT = os.path.dirname(HERE)
WORKLOADS = ("drain_oneshot", "drain_resume", "query_mix")
CPUS = len(os.sched_getaffinity(0))
COLLECTOR_XMX = "2g"
QUERY_XMX = "3g"
CHILD_TIMEOUT_S = 150

# Input sizes. Messages are split evenly over 3 topics x 8 partitions.
# A collector process costs 25-35 s on a 4-core box almost whatever its
# input (JVM and session start, 30-40 Spark jobs), and 4 + 22 x workloads
# gated runs must fit in an hour, so drain_resume makes one incremental run.
SIZES = {
    "full": {"oneshot_msgs": 120_000, "resume_base_msgs": 48_000, "setup_reps": 3},
    "smoke": {"oneshot_msgs": 2_400, "resume_base_msgs": 2_400, "setup_reps": 2},
}
# The incremental run: 12.5% new messages and 1% byte-identical
# redeliveries of already-landed messages, both relative to the base.
RESUME_NEW_SHARE = 0.125
RESUME_DUP_SHARE = 0.01

# query_mix: stratified over the seven query modules; ten of the fourteen
# queries the ROADMAP names (q_trimmed_stats, q_retrieval_eval, q_dedup_keep
# and q_dedup_clusters are left out to keep a run near 35 s). Tables are the
# repository's read-only sf0.01 test tables (TESTDATA.md).
QUERIES = [
    # relational (q_data_profile reaches graft.analyze.Analyzer)
    "q1_agg", "q_mad_outliers", "q_table_digest", "q_edge_table", "q_data_profile",
    # function
    "q_pivot",
    # ingest
    "q_msgpack_roundtrip",
    # text
    "q_source_kl", "q_span_corruption",
    # dedup
    "q_decontaminate", "q_dedup_minhash_lsh",
    # similarity
    "q_ann_recall", "q_int8_quantize",
    # multimodal
    "q_mm_features",
]
SMOKE_QUERIES = ["q1_agg", "q_pivot", "q_int8_quantize"]

JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def testdata_dir():
    """The sf0.01 test tables: PERFBENCH_SF_DIR, else the directory
    TESTDATA.md lists for scale 0.01."""
    if os.environ.get("PERFBENCH_SF_DIR"):
        return os.environ["PERFBENCH_SF_DIR"]
    try:
        with open(os.path.join(ROOT, "TESTDATA.md")) as fh:
            m = re.search(r"\|\s*0\.01\s*\|\s*`([^`]+)`", fh.read())
    except OSError:
        m = None
    return m.group(1).rstrip("/") if m else ""


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def now_ms():
    return time.time() * 1000.0


def quartiles(xs):
    """(p25, p50, p75); a single sample is its own quartiles."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], statistics.median(xs), q[2]


class Proc:
    """One child JVM: wall time from launch to exit and peak RSS (from the
    kernel's rusage, so it covers the whole process)."""

    running = None  # the child being waited on, for the signal handler

    def __init__(self, argv, env, cwd, log_path):
        self.argv, self.env, self.cwd, self.log_path = argv, env, cwd, log_path

    def run(self, timeout=CHILD_TIMEOUT_S):
        with open(self.log_path, "w") as fh:
            self.launch_ms = now_ms()
            p = subprocess.Popen(self.argv, env=self.env, cwd=self.cwd, stdout=fh,
                                 stderr=subprocess.STDOUT, start_new_session=True)
            timer = threading.Timer(timeout, lambda: os.killpg(p.pid, signal.SIGKILL))
            timer.start()
            Proc.running = p
            try:
                _, status, usage = os.wait4(p.pid, 0)
            finally:
                timer.cancel()
                Proc.running = None
            self.exit_ms = now_ms()
            p.returncode = os.waitstatus_to_exitcode(status)
        self.rc = p.returncode
        self.wall_s = (self.exit_ms - self.launch_ms) / 1000.0
        self.maxrss_mb = usage.ru_maxrss / 1024.0
        self.cpu_s = usage.ru_utime + usage.ru_stime
        if self.rc != 0:
            with open(self.log_path, errors="replace") as fh:
                tail = fh.read()[-3000:]
            log(f"child exited {self.rc}: {' '.join(self.argv[-3:])}\n{tail}")
        return self


class Bench:
    def __init__(self, workload, seed, trace, size, write_pins=False):
        self.workload, self.seed, self.trace = workload, seed, trace
        self.write_pins = write_pins
        self.size = SIZES[size]
        self.smoke = size == "smoke"
        self.work = os.path.join(ROOT, ".bench_build", "work", f"{workload}-{seed}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(os.path.join(self.work, "tmp"))
        self.attempted = 0
        self.failures = []
        self.traces = []  # (role, Proc, trace dict, extra)

    # -- child processes --------------------------------------------------

    def _jvm(self, main, xmx, trace_out=None):
        tmp = os.path.join(self.work, "tmp")
        # -XX:-UsePerfData: no hsperfdata file outside the checkout
        argv = ["java", "-XX:-UsePerfData", *JVM_OPENS, f"-Xmx{xmx}",
                "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                f"-Djava.io.tmpdir={tmp}",
                f"-Dspark.local.dir={tmp}",
                f"-Dspark.sql.warehouse.dir={os.path.join(self.work, 'warehouse')}",
                f"-Dderby.system.home={tmp}"]
        if trace_out:
            argv += [f"-Dperfbench.trace.out={trace_out}"]
            if main == "graft.CollectorMain":
                argv += ["-Dspark.extraListeners=perfbench.TraceListener",
                         "-Dspark.sql.queryExecutionListeners=perfbench.TraceQueryListener",
                         "-Dspark.sql.streaming.streamingQueryListeners="
                         "perfbench.TraceStreamListener"]
        return argv + ["-cp", self.classpath, main]

    def _env(self, extra):
        """The caller's environment minus any Spark or collector setting, so
        only `extra` configures the child."""
        env = {k: v for k, v in os.environ.items()
               if not k.startswith(("SPARK_", "GRAFT_")) and k not in (
                   "OUTPUT_DIR", "SKIP_DEDUPLICATION", "SKIP_EXISTING_CHECK", "SKIP_VALIDATION",
                   "MAX_WORKERS", "MAX_MESSAGES", "PARQUET_COMPRESSION", "COMPRESSION_LEVEL")}
        env["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "tmp")
        env.update(extra)
        return env

    def collector(self, tag, src, out, env_extra, traced):
        """One collector process, configured only through the reference env
        vars (`GraftConfig.fromEnv`); unset knobs keep their defaults."""
        trace_out = os.path.join(self.work, f"trace-{tag}.json") if traced else None
        env = self._env({"GRAFT_SOURCE_DIR": src, "OUTPUT_DIR": out, **env_extra})
        proc = Proc(self._jvm("graft.CollectorMain", COLLECTOR_XMX, trace_out), env,
                    self.work, os.path.join(self.work, f"{tag}.log")).run()
        self.attempted += 1
        if proc.rc != 0:
            self.failures.append(f"{tag}: collector exited {proc.rc}")
        tr = None
        if trace_out:
            tr = layers.load_trace(trace_out)
            if tr is None:
                self.failures.append(f"{tag}: no trace written")
        return proc, tr

    # -- checks -------------------------------------------------------------

    def check_lake(self, tag, out, src):
        """Landed rows equal the distinct message identities of the source,
        with no duplicate identity and no payload degraded to raw_value."""
        import duckdb
        con = duckdb.connect()
        con.execute(f"SET threads TO {CPUS}")
        src_glob = os.path.join(src, "*.parquet")
        lake_glob = os.path.join(out, "lake", "date_path=*", "*.parquet")
        distinct_src, = con.execute(
            "SELECT count(*) FROM (SELECT DISTINCT kafka_topic, kafka_partition, kafka_offset "
            f"FROM read_parquet('{src_glob}'))").fetchone()
        rows, distinct_lake, degraded = con.execute(
            "SELECT count(*), count(DISTINCT (kafka_topic, kafka_partition, kafka_offset)), "
            f"count(raw_value) FROM read_parquet('{lake_glob}', union_by_name=true)").fetchone()
        lake_bytes = sum(os.path.getsize(os.path.join(d, f))
                         for d, _, fs in os.walk(os.path.join(out, "lake")) for f in fs)
        con.close()
        ok = rows == distinct_src and distinct_lake == rows and degraded == 0
        if not ok:
            self.failures.append(
                f"{tag}: lake rows={rows} distinct={distinct_lake} raw_value={degraded} "
                f"expected={distinct_src}")
        return rows, lake_bytes

    def check_input_rows(self, tag, out, batch_floor, expected):
        """Rows the streaming query read in this run (the source files its
        checkpoint logged for batches after `batch_floor`) equal the rows
        the generator added. Returns the run's highest batch id."""
        import pyarrow.parquet as pq
        files, top = layers.checkpoint_files(os.path.join(out, "_checkpoint"), batch_floor)
        got = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
        if got != expected:
            self.failures.append(f"{tag}: streaming input rows {got} != generated {expected}")
        return top, got

    # -- workloads ----------------------------------------------------------

    def setup_source(self, msgs, reps=1):
        """Generate the same source `reps` times (drain_oneshot's setup_s is
        their median); the last copy is the one drained."""
        per_part = msgs // (len(gen.TOPICS) * gen.PARTITIONS)
        times = []
        for i in range(reps):
            src = os.path.join(self.work, f"src{i}")
            t0 = time.perf_counter()
            n = gen.write_messages(src, "base", self.seed, 0, per_part)
            times.append(time.perf_counter() - t0)
            if i:
                shutil.rmtree(os.path.join(self.work, f"src{i - 1}"))
        return src, n, per_part, times

    def drain_oneshot(self):
        src, n, _, setup = self.setup_source(self.size["oneshot_msgs"], self.size["setup_reps"])
        self.inputs = {"messages": n, "duplicate_share": 0.0, **gen.describe()}
        out = os.path.join(self.work, "out")
        proc, tr = self.collector("oneshot", src, out, {}, self.trace)
        rows, lake_bytes = self.check_lake("oneshot", out, src)
        _, input_rows = self.check_input_rows("oneshot", out, -1, n)
        if tr is not None:
            self.traces.append(("drain", proc, tr, {"input_rows": input_rows, "landed": rows}))
        self.e2e = {"setup_s": statistics.median(setup), "work_s": proc.wall_s,
                    "rate_per_s": n / proc.wall_s, "cpu_s": proc.cpu_s}
        self.ops, self.procs = [proc.wall_s], [proc]
        self.lake = lake_bytes / max(rows, 1)
        self.summary = {"drain_msgs_per_s": (n / proc.wall_s, "msg/s"),
                        "lake_bytes_per_msg": (self.lake, "B/msg")}

    def drain_resume(self):
        base = self.size["resume_base_msgs"]
        t0 = time.perf_counter()
        src, n, per_part, _ = self.setup_source(base)
        out = os.path.join(self.work, "out")
        proc, _ = self.collector("base", src, out, {}, False)
        self.base_drain_s = proc.wall_s
        rows, _ = self.check_lake("base", out, src)
        top, _ = self.check_input_rows("base", out, -1, n)
        setup_s = time.perf_counter() - t0
        new_pp = int(per_part * RESUME_NEW_SHARE)
        dups = int(base * RESUME_DUP_SHARE)
        added = gen.write_messages(src, "run", self.seed, per_part, new_pp)
        added += gen.write_redeliveries(src, "run", self.seed, per_part, dups,
                                        np.random.default_rng(self.seed))
        before = rows
        proc, tr = self.collector("resume", src, out, {"SKIP_DEDUPLICATION": "false",
                                                       "SKIP_EXISTING_CHECK": "false"},
                                  self.trace)
        rows, lake_bytes = self.check_lake("resume", out, src)
        _, input_rows = self.check_input_rows("resume", out, top, added)
        if tr is not None:
            self.traces.append(("drain", proc, tr,
                                {"input_rows": input_rows, "landed": rows - before}))
        new = added - dups
        self.inputs = {"messages": n + added, "base_messages": n, "new_messages": new,
                       "redeliveries": dups, "duplicate_share": round(dups / added, 4),
                       **gen.describe()}
        self.e2e = {"setup_s": setup_s, "work_s": proc.wall_s, "rate_per_s": new / proc.wall_s,
                    "cpu_s": proc.cpu_s}
        self.ops, self.procs = [proc.wall_s], [proc]
        self.lake = lake_bytes / max(rows, 1)
        self.summary = {"resume_msgs_per_s": (new / proc.wall_s, "msg/s"),
                        "base_drain_msgs_per_s": (n / self.base_drain_s, "msg/s"),
                        "lake_bytes_per_msg": (self.lake, "B/msg")}

    def query_mix(self):
        # A fixed order, not a seed-permuted one: the first queries in a JVM
        # pay most of the JIT warm-up, 1.5 to 3.6 s of a 24 s mix on a 4-core
        # box depending on which queries come first, so a permuted order
        # added seed-to-seed variance to work_s. The tables are fixed, so the
        # seed does not change this workload's inputs.
        names = list(SMOKE_QUERIES if self.smoke else QUERIES)
        sf_dir = testdata_dir()
        self.inputs = {"sf_dir": sf_dir, "queries": len(names), "order": names}
        if not os.path.isdir(sf_dir):
            raise SystemExit(f"query tables not found at '{sf_dir}'")
        out_json = os.path.join(self.work, "query_mix.json")
        trace_out = os.path.join(self.work, "trace-query_mix.json") if self.trace else None
        argv = self._jvm("perfbench.QueryMix", QUERY_XMX, trace_out) + [
            sf_dir, ",".join(names), out_json, "1" if self.trace else "0", str(CPUS)]
        proc = Proc(argv, self._env({}), self.work,
                    os.path.join(self.work, "query_mix.log")).run()
        res = json.load(open(out_json)) if proc.rc == 0 and os.path.exists(out_json) else None
        self.attempted += len(names)
        if res is None:
            self.failures += [f"{q}: runner exited {proc.rc}" for q in names]
            raise SystemExit("query runner failed")
        pins_path = os.path.join(HERE, "pins.json")
        pins = json.load(open(pins_path))
        if self.write_pins:
            # digests only for oracle-declared queries (exact by contract)
            pins.update({q["name"]: {"rows": q["rows"],
                                     "digest": q["digest"] if q["oracle"] else None}
                         for q in res["queries"] if not q["error"]})
            with open(pins_path, "w") as fh:
                json.dump(dict(sorted(pins.items())), fh, indent=1)
                fh.write("\n")
        for q in res["queries"]:
            pin = pins.get(q["name"])
            if q["error"]:
                self.failures.append(f"{q['name']}: {q['error'][:200]}")
            elif pin is None or q["rows"] != pin["rows"]:
                self.failures.append(f"{q['name']}: rows {q['rows']} != pinned {pin}")
            elif pin.get("digest") and q["digest"] != pin["digest"]:
                self.failures.append(f"{q['name']}: digest {q['digest']} != pinned {pin['digest']}")
        times = [(q["build_ms"] + q["exec_ms"]) / 1000.0 for q in res["queries"]]
        if trace_out:
            tr = layers.load_trace(trace_out)
            if tr is None:
                self.failures.append("query_mix: no trace written")
            else:
                self.traces.append(("query_mix", proc, tr, {"runner": res}))
        self.e2e = {"setup_s": (res["timed_start_ms"] - proc.launch_ms) / 1000.0,
                    "work_s": sum(times), "rate_per_s": len(times) / sum(times),
                    "cpu_s": res["timed_cpu_ns"] / 1e9}
        self.ops, self.procs = times, [proc]
        # the runner's high-water mark when the timed queries end
        proc.maxrss_mb = res["vm_hwm_kb"] / 1024.0
        self.lake = 0.0
        self.summary = {"query_mix_s": (sum(times), "s")}

    # -- one run --------------------------------------------------------------

    def run(self):
        t0 = now_ms()
        self.classpath = build.build()
        getattr(self, self.workload)()
        _, p50, p75 = quartiles(self.ops)
        rss = max(p.maxrss_mb for p in self.procs)
        if self.workload == "query_mix":
            self.summary.update({"query_p50_s": (p50, "s"), "query_p75_s": (p75, "s")})
        self.summary.update({"setup_s": (self.e2e["setup_s"], "s"),
                             "peak_rss_mb": (rss, "MB")})
        if self.trace:
            lay, selfcheck, spans = layers.analyse(
                self.workload, self.seed, t0, now_ms(), self.traces, self.lake,
                os.path.join(ROOT, "src", "main", "scala"), QUERIES,
                getattr(self, "base_drain_s", None))
            self.failures += selfcheck
            base = layers.baseline_work_s(os.path.join(HERE, "baseline.json"), self.workload)
            lay["trace.overhead_ratio"] = (self.e2e["work_s"] / base - 1.0) if base else 0.0
            lay.update({"process.peak_rss_mb": rss, "ops.p50_s": p50, "ops.p75_s": p75})
            metrics = lay
            tdir = os.path.join(ROOT, ".bench_build", "traces")
            os.makedirs(tdir, exist_ok=True)
            with open(os.path.join(tdir, f"{self.workload}-{self.seed}.json"), "w") as fh:
                json.dump({"workload": self.workload, "seed": self.seed, "metrics": lay,
                           "spans": spans}, fh)
        else:
            metrics = dict(self.e2e)
        return metrics

    def fingerprint(self):
        return {"fingerprint": {
            "nproc": CPUS, "master": f"local[{CPUS}]",
            "xmx": {"collector": COLLECTOR_XMX, "query_runner": QUERY_XMX},
            **versions(), "program_sha256": build.source_digest(),
            "seed": self.seed, "workload": self.workload, "trace": int(self.trace),
            "inputs": getattr(self, "inputs", {}),
        }}


def versions():
    """Spark and Scala from the jar names, the JDK from `java -version`;
    the git commit when the checkout is a git repository."""
    out = {}
    try:
        for f in os.listdir(build.SPARK_JARS):
            for key, prefix in (("spark", "spark-core_"), ("scala", "scala-library-")):
                if f.startswith(prefix) and f.endswith(".jar"):
                    out[key] = f[len(prefix):-4].split("-")[-1]
        jv = subprocess.run(["java", "-XX:-UsePerfData", "-version"], capture_output=True,
                            text=True, timeout=30)
        out["jdk"] = jv.stderr.split('"')[1] if '"' in jv.stderr else jv.stderr.strip()
        rev = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        out["git_commit"] = rev.stdout.strip() if rev.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        pass
    return out


def _stop(signum, _frame):
    """On SIGTERM/SIGINT: kill the running child JVM, reap it, and exit
    through main's clean-up."""
    p = Proc.running
    if p is not None:
        try:
            os.killpg(p.pid, signal.SIGKILL)
            os.waitpid(p.pid, 0)
        except (ProcessLookupError, ChildProcessError):
            pass  # already reaped
    raise SystemExit(f"stopped by signal {signum}")


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    # accepted for the benchmark contract; each workload does a fixed amount
    # of work, sized to about 30 s of timed work on a 4-core box
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=tuple(SIZES), default="full",
                    help="smoke: tiny inputs for the benchmark's own self-test")
    ap.add_argument("--write-pins", action="store_true",
                    help="query_mix: record row counts and digests in perfbench/pins.json")
    a = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        log("no program sources in this checkout")
        return 2
    signal.signal(signal.SIGTERM, _stop)
    signal.signal(signal.SIGINT, _stop)
    b = Bench(a.workload, a.seed, bool(a.trace), a.size, a.write_pins)
    try:
        metrics = b.run()
    except SystemExit as e:
        log(f"aborted: {e}")
        return 1
    finally:
        shutil.rmtree(b.work, ignore_errors=True)
    units = {m["name"]: m["unit"] for m in layers.declared_metrics(ROOT)}
    for f in b.failures:
        log(f"FAILED {f}")
    # the named figures, each with its unit and sample count (one drain
    # process or one query is one sample)
    b.summary["failed_ratio"] = (len(b.failures) / max(b.attempted, 1), "fraction")
    summary = {k: {"value": v, "unit": u, "n": len(b.ops)} for k, (v, u) in b.summary.items()}
    print(json.dumps({**b.fingerprint(), "summary": summary}, sort_keys=True))
    result = {
        "correct": not b.failures,
        "attempted": b.attempted,
        "failed": min(len(b.failures), b.attempted),
        "metrics": {k: {"value": v, "unit": units.get(k, "")} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0 if not b.failures else 1


if __name__ == "__main__":
    sys.exit(main())
