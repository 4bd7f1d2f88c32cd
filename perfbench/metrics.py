"""Pure metric arithmetic of the benchmark: percentiles, failure share,
span self time, the per-layer roll-up and the result line. No I/O."""
import json
import math
import re
import statistics

KERNELS = ["simhash64", "cosine_sim", "jaccard_sim", "shingle_w", "text_quality_stats",
           "dup_ngram_stats", "minhash_bands", "boundary_bucket", "bloom_might_contain"]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def tail_percentile(n, target=90, beyond=10):
    """The highest whole percentile, at most `target`, that leaves at least
    `beyond` of `n` samples above it; 50 (the median) when none does."""
    if n <= 0:
        return 50
    return max(50, min(target, math.floor(100 * (1 - beyond / n))))


def percentile(values, p):
    """Percentile of `values` (p in 0..100), interpolating linearly between
    the two nearest ranks; p=50 is the median."""
    v = sorted(values)
    if not v:
        raise ValueError("percentile of no samples")
    x = (len(v) - 1) * p / 100
    lo = math.floor(x)
    return v[lo] + (v[min(lo + 1, len(v) - 1)] - v[lo]) * (x - lo)


def ok_frac(attempted, failed):
    """Share of attempted ops that succeeded (1 - failed_frac)."""
    if attempted <= 0:
        raise ValueError("no ops attempted")
    return (attempted - failed) / attempted


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of `intervals`."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= max(a, end):
            continue
        total += b - max(a, end)
        end = b
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    return (span["t1"] - span["t0"]) - covered(
        [(c["t0"], c["t1"]) for c in children], span["t0"], span["t1"])


def tables_in(sql):
    """Input tables an oracle query reads (the check registers them under
    these bare names)."""
    return sorted({t for t in TABLES if re.search(rf"\b{t}\b", sql)})


def result_line(correct, attempted, failed, values, units):
    """The benchmark's last stdout line. `values` maps each metric name to
    its value and must name exactly the metrics of `units` (name -> unit,
    as BENCHMARK.json declares them)."""
    if set(values) != set(units):
        raise ValueError(f"emitted but not declared, or declared but not emitted: "
                         f"{sorted(set(values) ^ set(units))}")
    return json.dumps({
        "correct": bool(correct), "attempted": int(attempted), "failed": int(failed),
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()}})


def end_to_end(result, rows_per_pass):
    """End-to-end metrics from the harness's raw samples (untraced warm
    passes only)."""
    warm = [p for p in result["passes"] if p["kind"] == "warm" and not p["traced"]]
    cold = [p for p in result["passes"] if p["kind"] == "cold"]
    lat = [o["latency_s"] for p in warm for o in p["ops"] if o.get("ok") and "latency_s" in o]
    pass_s = statistics.median(p["wall_s"] for p in warm)
    tail = tail_percentile(len(lat))
    m = {
        "setup_s": result["setup_s"],
        "cold_pass_s": cold[0]["wall_s"],
        "pass_s": pass_s,
        "op_p50_s": percentile(lat, 50),
        "op_p90_s": percentile(lat, tail),
        "rows_per_s": rows_per_pass / pass_s,
        "peak_rss_mb": result["peak_rss_mb"],
    }
    by_op = {}
    for p in warm:
        for o in p["ops"]:
            if o.get("ok"):
                by_op.setdefault(o["name"], []).append(o["latency_s"])
    return m, {"op_samples": len(lat), "op_tail_percentile": tail, "warm_passes": len(warm),
               "op_median_s": {k: statistics.median(v) for k, v in by_op.items()}}


PASS_SUMS = ["queries.build_jobs", "exec.jobs", "exec.stages", "exec.tasks",
             "exec.shuffle_read_bytes", "exec.shuffle_write_bytes", "exec.spill_bytes",
             "exec.task_skew", "exec.cpu_util", "exec.gc_s", "io.input_rows", "io.input_bytes"]


def _ancestor(spans, kind):
    """span id -> id of its nearest enclosing span of `kind` (itself included)."""
    by_id = {s["id"]: s for s in spans}
    memo = {}

    def find(i):
        if i in memo:
            return memo[i]
        s = by_id.get(i)
        r = None if s is None else (i if s["kind"] == kind else find(s["parent"]))
        memo[i] = r
        return r
    return find


def med(xs):
    """Median of `xs`, 0 when there are none (a layer the workload skips)."""
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def per_layer(result, cpus):
    """Per-layer metrics from a traced run: each per-pass sum is the median
    over the traced warm passes."""
    spans = result.get("spans", [])
    by_id = {s["id"]: s for s in spans}
    pass_of = _ancestor(spans, "pass")
    passes = [s for s in spans if s["kind"] == "pass" and s["name"].startswith("warm")]
    traced = [p for p in result["passes"] if p["kind"] == "warm" and p["traced"]]
    untraced = [p for p in result["passes"] if p["kind"] == "warm" and not p["traced"]]

    def in_pass(kind, pid):
        return [s for s in spans if s["kind"] == kind and pass_of(s["id"]) == pid]

    per = []
    for ps in passes:
        pid = ps["id"]
        jobs = in_pass("job", pid)
        stages = [s for s in in_pass("stage", pid) if s.get("ran")]
        wall = (ps["t1"] - ps["t0"]) / 1000.0
        skews = [max(s["task_ms"]) / statistics.median(s["task_ms"]) for s in stages
                 if len(s["task_ms"]) >= 2 and statistics.median(s["task_ms"]) > 0]
        per.append({
            "queries.build_jobs": sum(1 for j in jobs if by_id.get(j["parent"], {}).get("kind") == "build"),
            "exec.jobs": len(jobs),
            "exec.stages": len(stages),
            "exec.tasks": sum(s["tasks"] for s in stages),
            "exec.shuffle_read_bytes": sum(s["shuffle_read"] for s in stages),
            "exec.shuffle_write_bytes": sum(s["shuffle_write"] for s in stages),
            "exec.spill_bytes": sum(s["spill"] for s in stages),
            "exec.task_skew": max(skews, default=1.0),
            "exec.cpu_util": sum(s["cpu_ns"] for s in stages) / 1e9 / (wall * cpus),
            "exec.gc_s": sum(s["gc_ms"] for s in stages) / 1000.0,
            "io.input_rows": sum(s["input_rows"] for s in stages),
            "io.input_bytes": sum(s["input_bytes"] for s in stages),
        })
    m = {k: med(p[k] for p in per) for k in PASS_SUMS}
    ops = [o for p in traced for o in p["ops"]]
    m["queries.build_s"] = med(sum(o.get("build_s", 0.0) for o in p["ops"]) for p in traced)
    m["exec.force_s"] = med(sum(o.get("force_s", 0.0) for o in p["ops"]) for p in traced)
    m["core.dispatch_notes"] = med(sum(len(o.get("dispatch", [])) for o in p["ops"]) for p in traced)
    m["core.cache_peak_bytes"] = max((o.get("cache_bytes", 0) for o in ops), default=0)
    m["core.cache_tags"] = med(len({t for o in p["ops"] for t in o.get("cache_tags", [])}) for p in traced)
    m["io.csv_read_s"] = med(o["latency_s"] for o in ops if o["name"] == "csv_read" and o.get("ok"))

    batches = [s for s in spans if s["kind"] == "batch"]
    dur = lambda b, *ks: sum(b["duration_ms"].get(k, 0) for k in ks) / 1000.0
    m["streaming.batch_s"] = med(dur(b, "triggerExecution") for b in batches)
    m["streaming.planning_s"] = med(dur(b, "queryPlanning") for b in batches)
    m["streaming.add_batch_s"] = med(dur(b, "addBatch") for b in batches)
    m["streaming.commit_s"] = med(dur(b, "walCommit", "commitOffsets") for b in batches)
    m["streaming.state_rows"] = max((b["state_rows"] for b in batches), default=0)
    m["streaming.state_bytes"] = max((b["state_bytes"] for b in batches), default=0)
    m["streaming.state_commit_s"] = med(b["state_commit_ms"] / 1000.0 for b in batches)
    m["streaming.late_rows"] = sum(b["late_rows"] for b in batches)

    k = result.get("kernels", {})
    for fn in KERNELS:
        m[f"exprs.{fn}.rows_per_s"] = k.get("rows_per_s", {}).get(fn, 0.0)
    m["pipeline.candidate_pairs"] = k.get("candidate_pairs", 0)
    m["trace.overhead_s"] = med(p["wall_s"] for p in traced) - med(p["wall_s"] for p in untraced)
    return m


def op_split(result):
    """Per op over the traced warm passes: median build and force time, and
    Spark jobs per pass. Shows where each workload's time goes."""
    spans = result.get("spans", [])
    by_id = {s["id"]: s for s in spans}
    op_of = _ancestor(spans, "op")
    traced = [p for p in result["passes"] if p["kind"] == "warm" and p["traced"]]
    jobs = {}
    for s in spans:
        o = op_of(s["id"]) if s["kind"] == "job" else None
        if o is not None:
            jobs[by_id[o]["name"]] = jobs.get(by_id[o]["name"], 0) + 1
    out = {}
    for name in dict.fromkeys(o["name"] for p in traced for o in p["ops"]):
        ok = [o for p in traced for o in p["ops"] if o["name"] == name and o.get("ok")]
        out[name] = {"build_s": med(o["build_s"] for o in ok),
                     "force_s": med(o["force_s"] for o in ok),
                     "jobs": jobs.get(name, 0) / max(1, len(traced))}
    return out


def self_times(spans):
    """Total self time (s) per span kind, for the trace summary."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        if s["kind"] == "stage":
            continue  # stages overlap their siblings; their time is the job's
        out[s["kind"]] = out.get(s["kind"], 0.0) + self_time(
            s, [c for c in kids.get(s["id"], []) if c["kind"] != "stage"]) / 1000.0
    return out
