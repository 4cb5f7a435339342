"""Re-pin the benchmark's baseline on the current machine.

    python3 perfbench/baseline.py [--runs 10] [--first-seed 1000]

Runs every gated workload `--runs` times untraced, each with its own seed,
then once traced, from the checkout root. Writes:

  perfbench/baseline.json          per workload and end-to-end metric: the
                                   median, quartiles, sample count and the
                                   spread (IQR / median) against its bound,
                                   plus the fingerprint of the machine;
  perfbench/baseline/<workload>.json  the traced per-layer table and the
                                   self time per span kind of that run.

The traced run comes after baseline.json is written, so its
`trace.overhead_ratio` compares with the fresh untraced median. `--runs 0`
keeps baseline.json and refreshes only the traced tables. Takes about 20
minutes at 10 runs on a 4-core box.
"""
import argparse
import collections
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BASELINE = os.path.join(HERE, "baseline.json")


def one(workload, seed, trace):
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "20", "--trace", str(trace)]
    res = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = res.stdout.strip().splitlines()
    if res.returncode != 0 or len(lines) < 2:
        raise SystemExit(f"{workload} seed {seed}: exit {res.returncode}\n{res.stderr[-3000:]}")
    return json.loads(lines[-2]), json.loads(lines[-1])


def untraced(workload, runs, first_seed, bounds):
    vals = collections.defaultdict(list)
    for seed in range(first_seed, first_seed + runs):
        fp, res = one(workload, seed, 0)
        if not res["correct"]:
            raise SystemExit(f"{workload} seed {seed}: incorrect output")
        for k, v in res["metrics"].items():
            vals[k].append(v["value"])
        print(f"{workload} seed {seed}: "
              f"{ {k: round(v['value'], 3) for k, v in res['metrics'].items()} }", flush=True)
    inputs = dict(fp["fingerprint"]["inputs"])
    inputs.pop("order", None)
    row = {"inputs": inputs}
    for k, xs in vals.items():
        q = statistics.quantiles(xs, n=4)
        med = statistics.median(xs)
        row[k] = {"median": med, "p25": q[0], "p75": q[2], "n": len(xs),
                  "spread": (q[2] - q[0]) / med, "bound": bounds[k]}
    machine = {k: v for k, v in fp["fingerprint"].items()
               if k not in ("seed", "workload", "trace", "inputs")}
    return machine, row


def traced(workload, seed):
    fp, res = one(workload, seed, 1)
    with open(os.path.join(ROOT, ".bench_build", "traces", f"{workload}-{seed}.json")) as fh:
        spans = json.load(fh)["spans"]
    self_ms = collections.Counter()
    for s in spans:
        self_ms[s["kind"]] += s["self_ms"]
    os.makedirs(os.path.join(HERE, "baseline"), exist_ok=True)
    with open(os.path.join(HERE, "baseline", f"{workload}.json"), "w") as fh:
        json.dump({"fingerprint": fp["fingerprint"], "correct": res["correct"],
                   "per_layer": {k: v["value"] for k, v in res["metrics"].items()},
                   "self_s_by_span_kind": {k: v / 1000 for k, v in sorted(self_ms.items())}},
                  fh, indent=1)
        fh.write("\n")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1000)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    out = {"runs_per_workload": a.runs, "workloads": {}}
    if a.runs == 0:
        with open(BASELINE) as fh:
            out = json.load(fh)
    for w in [x["name"] for x in bench["workloads"]]:
        if a.runs:
            out["fingerprint"], out["workloads"][w] = untraced(w, a.runs, a.first_seed, bounds)
            with open(BASELINE, "w") as fh:
                json.dump(out, fh, indent=1)
                fh.write("\n")
        traced(w, a.first_seed)


if __name__ == "__main__":
    main()
