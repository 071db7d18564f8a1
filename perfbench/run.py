#!/usr/bin/env python3
"""The repo's benchmark: runs one named workload of the graft library in
one `local[4]` JVM with one closed-loop client (each op is issued after
the previous one returns), checks every op's output against the digests
recorded for its input variant, and prints one JSON result line, the last
line of stdout.

    python3 perfbench/run.py --workload ref_warehouse --seed 1 --seconds 1 --trace 0

Workloads (see BENCHMARK.json):
  ref_warehouse    read-only: Pipeline stages under a seeded binding, q123's
                   SQL view stack, feature and relational/window/scalar/
                   streaming-batch lines
  corpus_cold      q125's prepared-corpus chain, the q126 release and
                   memo-building LLM batch ops, memo-cold every pass
  index_lifecycle  BM25 and ANN indexes seeded from a ScaleProbe
                   replica, then appended to, probed (hybrid top-k), taken
                   down and sealed

`--seed` picks one of four recorded input variants (seed mod 4): the
generated tables, the Pipeline binding, the batch split and the probe ids.
The op order is fixed. A run measures whole passes of the op list until
`--seconds` have passed, at least one. `--trace 0` prints the end-to-end metrics,
`--trace 1` the per-layer metrics of one traced pass; its spans are kept
under <build dir>/traces/.

Maintenance flags:
  --record           run one pass and write the variant's digests to
                     perfbench/expected/; declared-query outputs are
                     cross-checked against the DuckDB oracle first
  --scale tiny       run on the tiny inputs (the self-test's scale)
  --expected FILE    read expected digests from FILE instead

Self-test: python3 perfbench/selftest.py
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402

WORKLOADS = ("ref_warehouse", "corpus_cold", "index_lifecycle")
TIME_LIMIT_S = 165
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def expected_path(workload):
    return os.path.join(HERE, "expected", workload + ".json")


def load_json(path, default):
    if not os.path.exists(path):
        return default
    with open(path) as f:
        return json.load(f)


def run_jvm(classes, args, run_dir, deadline):
    """Run the harness JVM; kill it (and wait) if it outlives `deadline`."""
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    tmp = os.path.join(run_dir, "tmp")
    cmd = (["java", "-Xmx3g", "-XX:-UsePerfData"] + opens + [
        "-Djava.io.tmpdir=" + tmp,
        "-Dspark.hadoop.hadoop.tmp.dir=" + tmp,
        "-Dspark.local.dir=" + os.path.join(run_dir, "local"),
        "-Dspark.sql.warehouse.dir=" + os.path.join(run_dir, "warehouse"),
        "-Dgraft.index.root=" + os.path.join(run_dir, "index"),
        "-Dspark.ui.enabled=false",
        "-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
        "graft.perfbench.Main"] + args)
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             cwd=run_dir, start_new_session=True)
        try:
            p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None, "timed out"
    if p.returncode != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            return None, f"JVM exited {p.returncode}: " + f.read()[-3000:]
    return load_json(os.path.join(run_dir, "result.json"), None), None


def check(result, expected, scale):
    """Count failed ops: exceptions, digest mismatches, and ops with no
    recorded digest (a stale expectation file must not pass silently).
    """
    want = expected.get(scale, {}).get(str(result["variant"]), {})
    failed, problems = 0, []
    for op in result["ops"]:
        if "error" in op:
            failed += 1
            problems.append(f"{op['name']}: {op['error'][:200]}")
            continue
        got = [int(op["rows"]), op["hash"]]
        exp = want.get(op["name"])
        if exp != got:
            failed += 1
            problems.append(f"{op['name']}: got {got}, expected {exp}")
    return failed, problems


def end_to_end(r):
    """The untraced run's metrics: wall time and process CPU time of the
    timed section, each the median over the run's passes. No op-latency percentile is reported: a
    pass has 7 to 17 ops, under the ten samples a percentile needs beyond it.
    """
    return {
        "setup_s": r["setup_s"],
        "wall_s": statistics.median(p["wall_s"] for p in r["passes"]),
        "cpu_s": statistics.median(p["cpu_s"] for p in r["passes"]),
    }


def record(result, expected, scale, path):
    digests = {o["name"]: [int(o["rows"]), o["hash"]] for o in result["ops"]}
    expected.setdefault(scale, {})[str(result["variant"])] = dict(sorted(digests.items()))
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    ap.add_argument("--expected")
    a = ap.parse_args()

    spec = load_json(os.path.join(ROOT, "BENCHMARK.json"), None)
    if spec is None:
        fail("BENCHMARK.json not found at " + ROOT)
    try:
        classes = build.build()
    except build.BuildError as e:
        fail(str(e))

    bdir = build.build_dir()
    run_dir = os.path.join(bdir, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--scale", a.scale,
            "--run-dir", os.path.join(run_dir, "work"),
            "--out", os.path.join(run_dir, "result.json")]
    if a.record:
        args += ["--dump", os.path.join(run_dir, "dump")]
    # a run that had to build gets the JVM's full limit after the build
    deadline = time.monotonic() + TIME_LIMIT_S
    try:
        result, err = run_jvm(classes, args, run_dir, deadline)
        if result is None:
            fail(err)
        exp_file = a.expected or expected_path(a.workload)
        expected = load_json(exp_file, {})
        if a.record:
            import oracle
            bad = oracle.compare(os.path.join(run_dir, "work", "setup", "data"),
                                 os.path.join(run_dir, "dump"))
            if bad:
                fail("oracle cross-check failed:\n  " + "\n  ".join(bad))
            print(f"perfbench: oracle agrees on all {oracle.count(os.path.join(run_dir, 'dump'))} "
                  "declared outputs", file=sys.stderr)
            record(result, expected, a.scale, exp_file)
        failed, problems = check(result, expected, a.scale)
        for p in problems[:20]:
            print("perfbench: FAIL " + p, file=sys.stderr)
        if a.trace:
            names = spec["per_layer"]
            values = {**result["layers"], "jvm.mem_peak_mb": result["mem_peak_mb"]}
        else:
            names = spec["end_to_end"]
            values = end_to_end(result)
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in names}
        if a.trace:
            os.makedirs(os.path.join(bdir, "traces"), exist_ok=True)
            with open(os.path.join(bdir, "traces", f"{a.workload}-{a.seed}.json"), "w") as f:
                json.dump(result["spans"], f)
        attempted = len(result["ops"])
        print(json.dumps({"diagnostics": {
            "variant": result["variant"], "passes": len(result["passes"]),
            "fail_ratio": failed / attempted, "steal_s": result["steal_s"],
            "canary_s": result["canary_s"], "input_bytes": result["input_bytes"],
            "session_s": result["session_s"], "input_setup_s": result["input_setup_s"]}}))
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
