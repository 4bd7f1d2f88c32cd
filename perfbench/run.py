#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics.

    python3 perfbench/run.py --workload frame_ops --seed 1 --seconds 8 --trace 0

Builds the harness from source if needed (perfbench/build.py), generates the
seeded inputs (perfbench/gen.py, cached per seed under .bench_build/data),
runs the workload in one JVM (perfbench/src/Harness.scala), checks every op's
output, and prints a details line and then the result line:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {name: {"value", "unit"}}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones, by the names and units BENCHMARK.json declares
(perfbench/spec.json defines them). Exits non-zero without a
result line if the build, the inputs or the harness fail.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

ROOT = build.ROOT
WORK = build.OUT
DEADLINE_S = 170          # the whole run, build excluded
# A fixed heap and the throughput collector: with a growing G1 heap the same
# seed measured 1.2-1.7 GB peak RSS and pass times 15% apart run to run.
JVM_OPTS = [
    *[f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")],
    "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
]


def cpus():
    return len(os.sched_getaffinity(0))


def jvm(cp, out, args, timeout):
    """Runs the harness; its own output goes to <out>/jvm.log."""
    os.makedirs(os.path.join(out, "tmp"), exist_ok=True)
    cmd = ["java", *JVM_OPTS, f"-Djava.io.tmpdir={os.path.join(out, 'tmp')}",
           "-cp", cp, "graft.perfbench.Harness", "--out", out, *args]
    with open(os.path.join(out, "jvm.log"), "w") as log:
        rc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=out,
                            timeout=max(1, timeout)).returncode
    path = os.path.join(out, "result.json")
    if rc != 0 or not os.path.exists(path):
        with open(os.path.join(out, "jvm.log")) as f:
            sys.stderr.write(f.read()[-3000:])
        raise SystemExit(f"harness failed (exit {rc})")
    with open(path) as f:
        return json.load(f)


def oracle_check(verify_dir, data_dir, timeout):
    """tools/check.py on the correctness pass's outputs; returns the names
    that did not match (every op when the tool itself fails)."""
    with open(os.path.join(verify_dir, "oracle_sql.json")) as f:
        names = set(json.load(f))
    proc = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"),
                           verify_dir, data_dir], stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, text=True, timeout=timeout)
    ok = {line.split(":")[0][3:] for line in proc.stdout.splitlines() if line.startswith(" + ")}
    bad = {line[3:] for line in proc.stdout.splitlines() if line.startswith(" ! ")}
    return names - ok, sorted(bad)


def rows_per_pass(oracle, man):
    """Input rows one pass reads, from the generated inputs: the tables each
    op's oracle SQL names, or the CSV."""
    return sum(man["csv"]["rows"] if "read_csv" in sql else
               sum(man["rows"][t] for t in metrics.tables_in(sql))
               for sql in oracle.values())


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "spec.json")) as f:
        spec = json.load(f)
    if a.workload not in {w["name"] for w in bench["workloads"]}:
        raise SystemExit(f"unknown workload {a.workload}")
    units = {m["name"]: m["unit"] for m in bench["per_layer" if a.trace else "end_to_end"]}

    cp = build.ensure_built()
    start = time.monotonic()
    data, man = gen.generate(a.seed, os.path.join(WORK, "data"))
    runs = os.path.join(WORK, "runs")
    shutil.rmtree(runs, ignore_errors=True)
    n = cpus()
    common = ["--workload", a.workload, "--data", data, "--cpus", str(n)]

    def left():
        return DEADLINE_S - (time.monotonic() - start)

    out = os.path.join(runs, "main")
    queries = spec["workloads"][a.workload].get("queries", [])
    res = jvm(cp, out, common + ["--seconds", str(a.seconds), "--trace", str(a.trace),
                                 "--queries", ",".join(queries)], left() - 15)

    verify = os.path.join(out, "verify")
    with open(os.path.join(verify, "oracle_sql.json")) as f:
        oracle = json.load(f)
    failed_ops, check_lines = (oracle_check(verify, data, max(1, left())) if oracle else (set(), []))
    failed_ops |= {k for k, ok in res.get("stream_twins", {}).items() if not ok}
    failed_ops |= set(res.get("errors", {}))

    # every op execution of every pass, and every micro-batch of the stream leg
    execs = [o for p in res["passes"] for o in p["ops"]] + res.get("stream_batches", [])
    attempted = len(execs)
    failed = sum(1 for o in execs
                 if not o.get("ok", True) or o.get("stream", o.get("name")) in failed_ops)

    details = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "cpus": n,
               "load": res.get("load"),
               "failed_ops": sorted(failed_ops), "errors": res.get("errors", {}),
               "check": check_lines, "inputs": man}
    if a.trace:
        m = metrics.per_layer(res, n)
        details["self_s"] = metrics.self_times(res.get("spans", []))
        details["op_split"] = metrics.op_split(res)
        with open(os.path.join(WORK, f"trace-{a.workload}.json"), "w") as f:
            json.dump(res, f)
    else:
        m, stats = metrics.end_to_end(res, rows_per_pass(oracle, man))
        m["ok_frac"] = metrics.ok_frac(attempted, failed)
        details.update(stats)
    print(json.dumps(details))
    print(metrics.result_line(failed == 0, attempted, failed, m, units))


if __name__ == "__main__":
    main()
