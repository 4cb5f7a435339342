"""Smoke-size self-test of the benchmark itself, so a broken harness fails
fast: every workload at tiny sizes (a few thousand messages, three
queries), untraced and traced, plus the bare-directory case.

    python3 perfbench/selftest.py        # from the checkout root, ~6 min

Checks the result line's shape against BENCHMARK.json: exactly the keys
`correct`, `attempted`, `failed`, `metrics`; every end-to-end metric (trace
0) or per-layer metric (trace 1) present with its unit; end-to-end values
non-zero; outputs correct. Then checks that a directory holding only
BENCHMARK.json and the benchmark's files exits non-zero without a result.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import WORKLOADS  # noqa: E402


def run(cwd, workload, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "11",
           "--seconds", "1", "--trace", str(trace), "--size", "smoke"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def check(workload, trace, bench):
    res = run(ROOT, workload, trace)
    lines = res.stdout.strip().splitlines()
    assert res.returncode == 0, f"{workload}/{trace}: exit {res.returncode}\n{res.stderr[-3000:]}"
    out = json.loads(lines[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}, out.keys()
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1, out
    want = bench["per_layer"] if trace else bench["end_to_end"]
    assert set(out["metrics"]) == {m["name"] for m in want}, \
        set(out["metrics"]) ^ {m["name"] for m in want}
    for m in want:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"], (m, got)
        assert isinstance(got["value"], (int, float)), (m, got)
        if not trace:
            assert got["value"] > 0, (m, got)
    fp = json.loads(lines[-2])["fingerprint"]
    assert fp["nproc"] >= 1 and fp["seed"] == 11 and fp["inputs"], fp
    print(f"ok {workload} trace={trace}: {out['attempted']} attempted", flush=True)


def check_bare():
    bare = os.path.join(ROOT, ".bench_build", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    res = run(bare, "drain_oneshot", 0)
    shutil.rmtree(bare, ignore_errors=True)
    assert res.returncode != 0, "bare directory must fail"
    assert '"metrics"' not in res.stdout, res.stdout
    print("ok bare directory fails without a result", flush=True)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    check_bare()
    for w in WORKLOADS:
        for trace in (0, 1):
            check(w, trace, bench)
    print("selftest passed")


if __name__ == "__main__":
    main()
