"""Per-layer analysis of a traced benchmark run.

The JVMs write raw listener events (`Trace.scala`); this module turns them
into a span tree and the per-layer metrics of BENCHMARK.json.

Span levels: workload -> repetition (one JVM) -> layer call (collector
phase, or one query call with its build and exec parts) -> streaming query
-> micro-batch -> job -> stage. Every span has a name, kind, start, end,
parent and trace id. Self time is the part of a span's interval that no
child covers: each instant is attributed to the deepest span active then
(the latest-started one among equals), so a repetition's self times sum to
its wall time exactly when its spans nest inside it.

Layers are the program's modules. A Spark job belongs to the module of the
source file its call site names (`count at CollectorMain.scala:212` ->
`CollectorMain`); `plans` counts under `functions`, and the query runner's
write of a query's result under `queries`. Jobs with no program frame in
their call site (scheduler-internal ones) count under `other`.
"""
import json
import os
import re
import statistics

MB = 1024.0 * 1024.0
MODULES = ["CollectorMain", "streaming", "ingest", "sources", "functions", "queries",
           "analyze", "other"]
STREAM_PARTS = {"add_batch_s": "addBatch", "query_planning_s": "queryPlanning",
                "latest_offset_s": "latestOffset", "wal_commit_s": "walCommit",
                "commit_offsets_s": "commitOffsets"}


def per_layer_metrics(queries):
    """(name, unit) of every per-layer metric, in output order."""
    m = [("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
         ("spark.job_busy_s", "s"), ("spark.driver_gap_s", "s"),
         ("spark.core_busy_ratio", "ratio"), ("spark.executor_cpu_s", "s"),
         ("spark.gc_s", "s"), ("spark.codegen_compile_s", "s"),
         ("spark.codegen_compiles", "count"), ("spark.plan_s", "s"),
         ("spark.actions", "count"), ("spark.shuffle_write_mb", "MB"),
         ("spark.shuffle_read_mb", "MB"), ("spark.spill_mb", "MB"), ("spark.input_mb", "MB"),
         ("spark.output_mb", "MB"),
         ("collector.session_start_s", "s"), ("collector.pre_drain_s", "s"),
         ("collector.pre_drain_jobs", "count"), ("collector.post_drain_s", "s"),
         ("collector.post_drain_jobs", "count"),
         ("streaming.drain_s", "s"), ("streaming.batches", "count"),
         ("streaming.input_rows", "count")]
    m += [(f"streaming.{k}", "s") for k in STREAM_PARTS]
    m += [("streaming.landed_ratio", "ratio")]
    for mod in MODULES:
        m += [(f"{mod}.jobs", "count"), (f"{mod}.busy_s", "s")]
    m += [("resume.base_drain_s", "s"), ("resume.run_drain_s", "s"),
          ("resume.growth", "ratio"),
          ("queries.build_s", "s"), ("queries.exec_s", "s"), ("queries.eager_jobs", "count"),
          ("queries.jobs_p50", "count")]
    m += [(f"query.{q}_s", "s") for q in queries]
    m += [("lake.bytes_per_msg", "B/msg"), ("process.peak_rss_mb", "MB"),
          ("ops.p50_s", "s"), ("ops.p75_s", "s"),
          ("trace.overhead_ratio", "ratio"), ("trace.self_time_error", "ratio")]
    return m


def declared_metrics(root):
    """Metric declarations of BENCHMARK.json (empty if absent)."""
    try:
        with open(os.path.join(root, "BENCHMARK.json")) as fh:
            b = json.load(fh)
        return b["end_to_end"] + b["per_layer"]
    except (OSError, ValueError, KeyError):
        return []


def baseline_work_s(path, workload):
    try:
        with open(path) as fh:
            return json.load(fh)["workloads"][workload]["work_s"]["median"]
    except (OSError, ValueError, KeyError):
        return None


def load_trace(path):
    try:
        with open(path) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return None


def checkpoint_files(ckpt, floor):
    """Source files the file stream logged for batches after `floor`, and
    the highest batch id logged."""
    d = os.path.join(ckpt, "sources", "0")
    files, top = {}, floor
    for name in os.listdir(d) if os.path.isdir(d) else []:
        if name.startswith(".") or name.endswith(".tmp"):
            continue
        with open(os.path.join(d, name)) as fh:
            for line in fh.read().splitlines()[1:]:
                e = json.loads(line)
                top = max(top, e["batchId"])
                if e["batchId"] > floor:
                    p = e["path"]
                    files[p] = re.sub(r"^file:(//)?", "", p)
    from urllib.parse import unquote
    return [unquote(p) for p in files.values()], top


def union_ms(intervals):
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def file_modules(src_root):
    """Source file name -> module, from the program tree."""
    out = {}
    base = os.path.join(src_root, "graft")
    for d, _, fs in os.walk(base):
        rel = os.path.relpath(d, base)
        for f in fs:
            if rel == ".":
                out[f] = "CollectorMain" if f == "CollectorMain.scala" else "other"
            else:
                top = rel.split(os.sep)[0]
                out[f] = "functions" if top == "plans" else top
    # the runner's write executes the query's plan
    out["QueryMix.scala"] = "queries"
    return out


def job_site(job, executions, fmap):
    """The job's user call site: its own short call site, else (jobs AQE
    submits from its threads) the innermost program frame of its SQL
    execution's long call site."""
    m = re.search(r"at ([\w$]+\.scala):\d+", job["site"])
    if m and m.group(1) in fmap:
        return job["site"]
    ex = executions.get(job.get("execution", -1))
    if ex:
        for frame in re.finditer(r"\(([\w$]+\.scala):(\d+)\)", ex["details"]):
            if frame.group(1) in fmap:
                return f"{ex['description'].split(' at ')[0]} at {frame.group(1)}:{frame.group(2)}"
    return job["site"]


def module_of(site, fmap):
    m = re.search(r"at ([\w$]+\.scala):\d+", site or "")
    mod = fmap.get(m.group(1), "other") if m else "other"
    return mod if mod in MODULES else "other"


class Spans:
    def __init__(self, trace_id):
        self.trace_id = trace_id
        self.items = []

    def add(self, name, kind, start, end, parent, **attrs):
        sid = len(self.items)
        self.items.append({"id": sid, "parent": parent, "trace_id": self.trace_id, "name": name,
                           "kind": kind, "start_ms": start, "end_ms": end, **attrs})
        return sid

    def depth(self, sid):
        d = 0
        while self.items[sid]["parent"] is not None:
            sid = self.items[sid]["parent"]
            d += 1
        return d

    def innermost(self, t, candidates):
        best = None
        for sid in candidates:
            s = self.items[sid]
            if s["start_ms"] <= t <= s["end_ms"]:
                if best is None or self.depth(sid) > self.depth(best):
                    best = sid
        return best

    def compute_self(self):
        """Attribute each instant to the deepest active span."""
        depth = [self.depth(s["id"]) for s in self.items]
        for s in self.items:
            s["self_ms"] = 0.0
        bounds = sorted({s["start_ms"] for s in self.items} | {s["end_ms"] for s in self.items})
        order = sorted(self.items, key=lambda s: s["start_ms"])
        active, i = [], 0
        for a, b in zip(bounds, bounds[1:]):
            while i < len(order) and order[i]["start_ms"] <= a:
                active.append(order[i])
                i += 1
            active = [s for s in active if s["end_ms"] > a]
            if active:
                top = max(active, key=lambda s: (depth[s["id"]], s["start_ms"], s["id"]))
                top["self_ms"] += b - a

    def subtree(self, sid):
        kids = {}
        for s in self.items:
            kids.setdefault(s["parent"], []).append(s["id"])
        out, stack = [], [sid]
        while stack:
            x = stack.pop()
            out.append(x)
            stack += kids.get(x, [])
        return out


def _stream_bounds(tr):
    starts = [e["t_ms"] for e in tr["streams"] if e["event"] == "start"]
    ends = [e["t_ms"] for e in tr["streams"] if e["event"] == "end"]
    return (min(starts), max(ends)) if starts and ends else (None, None)


def analyse(workload, seed, t0, t1, traces, lake_bytes_per_msg, src_root, queries,
            base_drain_s=None):
    """Per-layer metrics, self-check failures and spans of one traced run.
    `traces` holds (role, Proc, raw trace, extra) per traced JVM;
    `queries` is the full query_mix list (one `query.<name>_s` each);
    `base_drain_s` is drain_resume's set-up drain of the base lake."""
    fmap = file_modules(src_root)
    runner_queries = []
    for role, _, _, extra in traces:
        if role == "query_mix":
            runner_queries = [q["name"] for q in extra["runner"]["queries"]]
    names = [n for n, _ in per_layer_metrics(queries)]
    m = {n: 0.0 for n in names}
    fails = []
    spans = Spans(f"{workload}-{seed}")
    root = spans.add(workload, "workload", t0, t1, None)
    drain_walls = []
    task_ms = busy_core_ms = 0.0
    for i, (role, proc, tr, extra) in enumerate(traces):
        rep = spans.add(f"{role}#{i}", "repetition", proc.launch_ms, proc.exit_ms, root)
        if role == "query_mix":
            res = extra["runner"]
            w0, w1 = res["timed_start_ms"], res["timed_end_ms"]
        else:
            w0, w1 = proc.launch_ms, proc.exit_ms
        layer_ids = []
        marks = sorted(tr["marks"], key=lambda x: x["start_ms"])
        if role == "drain":
            s0, s1 = _stream_bounds(tr)
            app0 = tr["app_start_ms"] or proc.launch_ms
            app1 = tr["app_end_ms"] or proc.exit_ms
            if s0 is None:
                fails.append(f"repetition {i}: no streaming query seen")
                s0 = s1 = app0
            layer_ids.append(spans.add("collector.session_start", "layer", proc.launch_ms, app0, rep))
            layer_ids.append(spans.add("CollectorMain.pre_drain", "layer", app0, s0, rep))
            drain = spans.add("streaming.drain", "streaming_query", s0, s1, rep)
            layer_ids.append(drain)
            layer_ids.append(spans.add("CollectorMain.post_drain", "layer", s1, app1, rep))
            layer_ids.append(spans.add("collector.shutdown", "layer", app1, proc.exit_ms, rep))
            for b in tr["batches"]:
                dur = b["duration_ms"].get("triggerExecution", 0)
                layer_ids.append(spans.add(f"batch {b['batch']}", "micro_batch", b["start_ms"],
                                           b["start_ms"] + dur, drain))
            jobs_pre = [j for j in tr["jobs"] if j["start_ms"] < s0]
            jobs_post = [j for j in tr["jobs"] if j["start_ms"] > s1]
            m["collector.session_start_s"] += (app0 - proc.launch_ms) / 1000
            m["collector.pre_drain_s"] += (s0 - app0) / 1000
            m["collector.pre_drain_jobs"] += len(jobs_pre)
            m["collector.post_drain_s"] += (proc.exit_ms - s1) / 1000
            m["collector.post_drain_jobs"] += len(jobs_post)
            m["streaming.drain_s"] += (s1 - s0) / 1000
            m["streaming.batches"] += len(tr["batches"])
            rows_in = sum(b["input_rows"] for b in tr["batches"])
            m["streaming.input_rows"] += rows_in
            for k, part in STREAM_PARTS.items():
                m[f"streaming.{k}"] += sum(b["duration_ms"].get(part, 0)
                                           for b in tr["batches"]) / 1000
            if rows_in != extra["input_rows"]:
                fails.append(f"repetition {i}: streaming read {rows_in} rows, "
                             f"generator added {extra['input_rows']}")
            m["streaming.landed_ratio"] += extra["landed"]  # divided below
            drain_walls.append(proc.wall_s)
            m["spark.codegen_compile_s"] += tr["codegen_compile_ns"] / 1e9
            m["spark.codegen_compiles"] += tr["codegen_compiles"]
        else:
            layer_ids.append(spans.add("runner.setup", "layer", proc.launch_ms, w0, rep))
            for k in marks:
                q = spans.add(f"query:{k['name']}", "layer", k["start_ms"], k["end_ms"], rep)
                layer_ids += [q, spans.add("build", "layer", k["start_ms"], k["build_end_ms"], q),
                              spans.add("exec", "layer", k["build_end_ms"], k["end_ms"], q)]
            layer_ids.append(spans.add("runner.shutdown", "layer", w1, proc.exit_ms, rep))
            jobs_per_q = []
            for k in marks:
                qj = [j for j in tr["jobs"] if k["start_ms"] <= j["start_ms"] <= k["end_ms"]]
                eager = [j for j in qj if j["start_ms"] <= k["build_end_ms"]]
                jobs_per_q.append(len(qj))
                if not qj:
                    fails.append(f"{k['name']}: no Spark job recorded")
                m["queries.build_s"] += (k["build_end_ms"] - k["start_ms"]) / 1000
                m["queries.exec_s"] += (k["end_ms"] - k["build_end_ms"]) / 1000
                m["queries.eager_jobs"] += len(eager)
                m["spark.codegen_compile_s"] += k["compile_ns"] / 1e9
                m["spark.codegen_compiles"] += k["compiles"]
                key = f"query.{k['name']}_s"
                if key in m:
                    m[key] = (k["end_ms"] - k["start_ms"]) / 1000
            m["queries.jobs_p50"] = statistics.median(jobs_per_q) if jobs_per_q else 0
            if sorted(runner_queries) != sorted(k["name"] for k in marks):
                fails.append("query_mix: trace marks do not match the queries run")

        executions = {e["id"]: e for e in tr.get("executions", [])}
        for j in tr["jobs"]:
            j["site"] = job_site(j, executions, fmap)
        # spark layer, over the timed window of this JVM
        jobs = [j for j in tr["jobs"] if w0 <= j["start_ms"] <= w1]
        stage_ids = {sid for j in jobs for sid in j["stages"]}
        stages = [s for s in tr["stages"] if s["id"] in stage_ids]
        busy = union_ms([(j["start_ms"], j["end_ms"]) for j in jobs])
        wall = w1 - w0
        if busy > wall + 1:
            fails.append(f"repetition {i}: job-busy union {busy:.0f} ms > wall {wall:.0f} ms")
        m["spark.jobs"] += len(jobs)
        m["spark.stages"] += len(stages)
        m["spark.tasks"] += sum(s["tasks"] for s in stages)
        m["spark.job_busy_s"] += busy / 1000
        m["spark.driver_gap_s"] += (wall - busy) / 1000
        task_ms += sum(s["run_ms"] for s in stages)
        busy_core_ms += busy * (tr["cores"] or 1)
        m["spark.executor_cpu_s"] += sum(s["cpu_ns"] for s in stages) / 1e9
        m["spark.gc_s"] += sum(s["gc_ms"] for s in stages) / 1000
        m["spark.plan_s"] += sum(a["plan_ms"] for a in tr["actions"]
                                 if w0 <= a["end_ms"] <= w1) / 1000
        m["spark.actions"] += sum(1 for a in tr["actions"] if w0 <= a["end_ms"] <= w1)
        m["spark.shuffle_write_mb"] += sum(s["shuffle_write_b"] for s in stages) / MB
        m["spark.shuffle_read_mb"] += sum(s["shuffle_read_b"] for s in stages) / MB
        m["spark.spill_mb"] += sum(s["spill_b"] for s in stages) / MB
        m["spark.input_mb"] += sum(s["input_b"] for s in stages) / MB
        m["spark.output_mb"] += sum(s["output_b"] for s in stages) / MB
        for j in jobs:
            mod = module_of(j["site"], fmap)
            m[f"{mod}.jobs"] += 1
            m[f"{mod}.busy_s"] += (j["end_ms"] - j["start_ms"]) / 1000

        # job and stage spans, under the innermost enclosing layer span
        job_span = {}
        for j in tr["jobs"]:
            parent = spans.innermost(j["start_ms"], layer_ids) or rep
            job_span[j["id"]] = spans.add(f"job {j['id']}: {j['site']}", "job", j["start_ms"],
                                          j["end_ms"], parent, module=module_of(j["site"], fmap))
            for sid in j["stages"]:
                job_span.setdefault(("stage", sid), job_span[j["id"]])
        for s in tr["stages"]:
            parent = job_span.get(("stage", s["id"]))
            if parent is not None and s["start_ms"]:
                spans.add(f"stage {s['id']}.{s['attempt']}: {s['name']}", "stage", s["start_ms"],
                          s["end_ms"], parent, tasks=s["tasks"])

    m["spark.core_busy_ratio"] = task_ms / busy_core_ms if busy_core_ms else 0.0
    if m["streaming.input_rows"]:
        m["streaming.landed_ratio"] = m["streaming.landed_ratio"] / m["streaming.input_rows"]
    if base_drain_s and drain_walls:
        m["resume.base_drain_s"] = base_drain_s
        m["resume.run_drain_s"] = statistics.median(drain_walls)
        m["resume.growth"] = m["resume.run_drain_s"] / base_drain_s
    m["lake.bytes_per_msg"] = lake_bytes_per_msg

    spans.compute_self()
    worst = 0.0
    for s in spans.items:
        if s["kind"] != "repetition":
            continue
        total = sum(spans.items[x]["self_ms"] for x in spans.subtree(s["id"]))
        wall = s["end_ms"] - s["start_ms"]
        err = abs(total - wall) / wall if wall else 0.0
        worst = max(worst, err)
        if err > 0.01:
            fails.append(f"{s['name']}: self times sum to {total:.0f} ms, wall {wall:.0f} ms")
    m["trace.self_time_error"] = worst
    return {k: m[k] for k in names}, fails, spans.items
