#!/usr/bin/env python3
"""Self-test of the benchmark, on the tiny inputs (sf0.001):

1. for every workload, an untraced run is correct and prints every
   end-to-end metric of BENCHMARK.json, by name and with its unit;
2. for every workload, a traced run does the same for every per-layer
   metric;
3. the correctness gate trips: a run checked against a copy of the
   expected digests with one digest corrupted reports correct=false and
   at least one failed op.

Usage: python3 perfbench/selftest.py [workload ...]   (exit code 0 = pass)
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import run  # noqa: E402


def bench(workload, trace, expected=None):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "0", "--seconds", "1", "--trace", str(trace), "--scale", "tiny"]
    if expected:
        cmd += ["--expected", expected]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise AssertionError(f"{workload}: run.py exited {p.returncode}")
    return json.loads(lines[-1])


def check_metrics(res, spec, label):
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, label
    got = res["metrics"]
    assert set(got) == {m["name"] for m in spec}, (label, sorted(set(got) ^ {m["name"] for m in spec}))
    for m in spec:
        v = got[m["name"]]
        assert v["unit"] == m["unit"], (label, m["name"], v)
        assert isinstance(v["value"], (int, float)), (label, m["name"], v)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = sys.argv[1:] or list(run.WORKLOADS)
    for w in workloads:
        for trace, names in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            res = bench(w, trace)
            label = f"{w} trace={trace}"
            check_metrics(res, names, label)
            assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0, (label, res)
            print(f"ok   {label}: {len(names)} metrics with units, {res['attempted']} ops correct")

    w = workloads[0]
    with open(run.expected_path(w)) as f:
        expected = json.load(f)
    digests = expected["tiny"]["0"]
    op = sorted(digests)[0]
    digests[op] = [digests[op][0], "0"]
    corrupt = os.path.join(build.build_dir(), f"selftest-{w}-corrupt.json")
    os.makedirs(os.path.dirname(corrupt), exist_ok=True)
    with open(corrupt, "w") as f:
        json.dump(expected, f)
    try:
        res = bench(w, 0, expected=corrupt)
    finally:
        os.remove(corrupt)
    assert res["correct"] is False and res["failed"] >= 1, res
    print(f"ok   {w}: corrupted digest of {op} trips the gate ({res['failed']} failed)")


if __name__ == "__main__":
    main()
