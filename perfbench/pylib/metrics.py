"""Metric arithmetic over the JVM's result files.

All times in the result files are epoch milliseconds; metrics are reported
in seconds unless their unit says otherwise.
"""
import math
import statistics

MB = 1024.0 * 1024.0

# Per-layer metrics of a traced run, with units, in report order.
PER_LAYER = {
    "peak_rss_mb": "MB", "job_p90_s": "s", "job_tail_pct": "pct", "job_tail_s": "s", "job_samples": "count",
    "fail_ratio": "ratio", "known_defects_failed": "count", "gflops": "GFLOP/s",
    "trace.overhead": "ratio", "trace.job_self_s": "s", "trace.coverage": "ratio",
    "harness.check_s": "s",
    "core.session_s": "s", "core.tables_s": "s", "core.warmup_s": "s",
    "core.setup_cold_s": "s", "core.jvm_start_s": "s", "core.prime_s": "s",
    "core.iter_build_s": "s", "core.iter_exec_s": "s",
    "plans.queries": "count", "plans.analysis_s": "s", "plans.optimization_s": "s",
    "plans.planning_s": "s", "plans.topk_nodes": "count",
    "operators.build_s": "s", "operators.exec_s": "s", "ml.build_s": "s", "ml.exec_s": "s",
    "array.gen_s": "s", "array.multiply_s": "s", "array.factor_s": "s",
    "array.build_s": "s", "array.exec_s": "s",
    "array.flops": "flop", "array.kernel_gflops": "GFLOP/s",
    "defects.cholesky_block_diagonal_ok": "count",
    "delayed.build_s": "s", "delayed.eval_s": "s", "delayed.nodes": "count",
    "delayed.nodes_per_s": "1/s", "delayed.max_depth_ok": "count",
    "delayed.graph_max_depth_ok": "count",
    "streaming.build_s": "s", "streaming.exec_s": "s",
    "streaming.batches": "count", "streaming.nodata_batches": "count",
    "streaming.trigger_s": "s", "streaming.add_batch_s": "s",
    "streaming.query_planning_s": "s", "streaming.wal_commit_s": "s",
    "streaming.state_rows": "count",
    "sources.build_s": "s", "sources.exec_s": "s",
    "spark.output_mb": "MB", "spark.output_rows": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.stages_skipped": "count",
    "spark.tasks": "count", "spark.tasks_failed": "count", "spark.task_run_s": "s",
    "spark.task_cpu_s": "s", "spark.task_wait_s": "s", "spark.task_gc_s": "s",
    "spark.stage_span_s": "s", "spark.driver_gap_s": "s",
    "spark.shuffle_write_mb": "MB", "spark.shuffle_read_mb": "MB",
    "spark.fetch_wait_s": "s", "spark.spill_mb": "MB", "spark.input_mb": "MB",
    "jvm.gc_s": "s", "jvm.gc_count": "count", "jvm.cpu_util": "ratio",
    "host.steal_s": "s",
}


def median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile(xs, p, min_beyond=10):
    """Nearest-rank p-th percentile (0 < p < 100), or None unless at least
    `min_beyond` samples lie beyond it."""
    n = len(xs)
    rank = math.ceil(p / 100.0 * n)
    if n == 0 or rank < 1 or n - rank < min_beyond:
        return None
    return sorted(xs)[rank - 1]


def tail(xs, min_beyond=10):
    """(pct, value) of the highest nearest-rank percentile with at least
    `min_beyond` samples beyond it, or (0, 0) if there is none."""
    n = len(xs)
    rank = n - min_beyond
    if rank < 1:
        return 0.0, 0.0
    return 100.0 * rank / n, sorted(xs)[rank - 1]


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def driver_gap(windows, spark_jobs):
    """Σ over harness job windows of wall time not covered by any Spark job:
    driver-side planning, solves, collects and scheduling between jobs."""
    return sum((e - s) - union_length(clip(spark_jobs, s, e)) for s, e in windows)


def self_times(spans):
    """{span id: duration minus the part of it its child spans cover}."""
    kids = {}
    for sp in spans:
        kids.setdefault(sp["parent"], []).append((sp["start"], sp["end"]))
    return {sp["id"]: (sp["end"] - sp["start"]) -
            union_length(clip(kids.get(sp["id"], []), sp["start"], sp["end"]))
            for sp in spans}


def _s(ms):
    return ms / 1000.0


def end_to_end(res):
    """The end-to-end metrics of a run's timed passes."""
    lat = [_s(j["end"] - j["start"]) for j in res["jobs"]]
    return {
        "setup_s": median([s["setup_s"] for s in res["setups"]]),
        "makespan_s": median([_s(p["end"] - p["start"]) for p in res["passes"]]),
        "job_p50_s": median(lat),
    }


def per_layer(res, plan):
    """Per-layer metrics of a traced run: of its three timed passes the
    second ran with the listeners attached and spans recorded."""
    traced = res["passes"][1]
    plain = [p for k, p in enumerate(res["passes"]) if k != 1]
    lo, hi = traced["start"], traced["end"]
    wall_s = _s(hi - lo)
    jobs = [j for j in res["jobs"] if j["pass"] == 1]
    lat = [_s(j["end"] - j["start"]) for j in jobs]
    failed = sum(1 for j in jobs if not j["ok"])
    probes = res.get("probes", [])
    m = {"peak_rss_mb": res["peak_rss_mb"]}
    # job latency tail and failures (counted over timed jobs and the
    # known-defect probes, which run after the timed passes)
    p90 = percentile(lat, 90)
    m["job_p90_s"] = p90 if p90 is not None else 0.0
    m["job_tail_pct"], m["job_tail_s"] = tail(lat)
    m["job_samples"] = len(lat)
    m["fail_ratio"] = (failed + sum(1 for p in probes if not p["ok"])) / (len(jobs) + len(probes))
    m["known_defects_failed"] = sum(1 for p in probes if not p["ok"])
    flops = sum(j.get("flops", 0.0) for j in jobs)
    m["gflops"] = flops / 1e9 / wall_s if wall_s else 0.0

    # spans: totals per name, all recorded in the traced pass
    spans = res.get("spans", [])
    total = {}
    for sp in spans:
        total[sp["name"]] = total.get(sp["name"], 0.0) + _s(sp["end"] - sp["start"])
    selfs = self_times(spans)
    job_spans = [sp for sp in spans if sp["name"] == "job"]
    m["trace.overhead"] = (hi - lo) / statistics.mean(p["end"] - p["start"] for p in plain)
    m["trace.job_self_s"] = sum(_s(selfs[sp["id"]]) for sp in job_spans)
    covered = sum(_s(sp["end"] - sp["start"]) - _s(selfs[sp["id"]]) for sp in job_spans)
    m["trace.coverage"] = covered / sum(lat) if lat else 0.0
    m["harness.check_s"] = total.get("check", 0.0)

    # core: set-up phases (median over the run's set-ups) and iterations
    setups = res["setups"]
    for k in ("session_s", "tables_s", "warmup_s"):
        m["core." + k] = median([s[k] for s in setups])
    m["core.setup_cold_s"] = setups[0]["setup_s"]
    m["core.prime_s"] = res["prime_s"]
    m["core.jvm_start_s"] = setups[0]["jvm_to_main_s"]
    for name in ("core.iter_build", "core.iter_exec", "operators.build", "operators.exec",
                 "ml.build", "ml.exec", "sources.build", "sources.exec",
                 "streaming.build", "streaming.exec", "array.build", "array.exec",
                 "array.gen", "array.multiply", "array.factor",
                 "delayed.build", "delayed.eval"):
        m[name + "_s"] = total.get(name, 0.0)

    # engine: Spark jobs, stages and tasks that start in the traced pass
    eng = res.get("engine", {})
    sjobs = [j for j in eng.get("jobs", []) if lo <= j["start"] <= hi]
    stages = [s for s in eng.get("stages", []) if s["submitted"] >= 0 and lo <= s["submitted"] <= hi]
    m["spark.jobs"] = len(sjobs)
    m["spark.stages"] = len(stages)
    m["spark.stages_skipped"] = sum(j["skipped"] for j in sjobs)
    m["spark.tasks"] = sum(s["tasks"] for s in stages)
    m["spark.tasks_failed"] = sum(s["failed_tasks"] for s in stages)
    m["spark.task_run_s"] = _s(sum(s["run_ms"] for s in stages))
    m["spark.task_cpu_s"] = sum(s["cpu_ns"] for s in stages) / 1e9
    m["spark.task_wait_s"] = _s(sum(s["wait_ms"] for s in stages))
    m["spark.task_gc_s"] = _s(sum(s["gc_ms"] for s in stages))
    m["spark.stage_span_s"] = _s(union_length(
        [(s["submitted"], s["completed"]) for s in stages if s["completed"] >= s["submitted"]]))
    m["spark.driver_gap_s"] = _s(driver_gap([(j["start"], j["end"]) for j in jobs],
                                            [(j["start"], j["end"]) for j in sjobs]))
    m["spark.shuffle_write_mb"] = sum(s["shuffle_write"] for s in stages) / MB
    m["spark.shuffle_read_mb"] = sum(s["shuffle_read"] for s in stages) / MB
    m["spark.fetch_wait_s"] = _s(sum(s["fetch_wait_ms"] for s in stages))
    m["spark.spill_mb"] = sum(s["spill"] for s in stages) / MB
    m["spark.input_mb"] = sum(s["input"] for s in stages) / MB
    m["spark.output_mb"] = sum(s["output_bytes"] for s in stages) / MB
    m["spark.output_rows"] = sum(s["output_rows"] for s in stages)

    # plans: Catalyst phases of the traced pass's query executions
    queries = [q for q in eng.get("queries", []) if lo <= q["end"] <= hi]
    m["plans.queries"] = len(queries)
    for k in ("analysis", "optimization", "planning"):
        m[f"plans.{k}_s"] = _s(sum(q[k + "_ms"] for q in queries))
    m["plans.topk_nodes"] = sum(q["topk"] for q in queries)

    # array: computed flops per task CPU second of the stages the flop-counted
    # jobs submitted
    m["array.flops"] = flops
    array_cpu = sum(s["cpu_ns"] for s in stages
                    if any(j["flops"] and j["start"] <= s["submitted"] <= j["end"] for j in jobs)) / 1e9
    m["array.kernel_gflops"] = flops / 1e9 / array_cpu if array_cpu else 0.0

    # delayed: DAG nodes evaluated and the deepest chain that evaluates
    planned = {(k, j["name"]): j for k, js in enumerate(plan["passes"]) for j in js}
    nodes = sum(planned[(j["pass"], j["name"])]["expect"].get("nodes", 0) for j in jobs
                if planned[(j["pass"], j["name"])]["kind"] != "entry")
    m["delayed.nodes"] = nodes
    m["delayed.nodes_per_s"] = nodes / m["delayed.eval_s"] if m["delayed.eval_s"] else 0.0
    for api, key in (("delayed_chain", "delayed.max_depth_ok"),
                     ("graph_chain", "delayed.graph_max_depth_ok")):
        m[key] = max((int(p["name"].rsplit("_", 1)[1]) for p in probes
                      if p["name"].startswith(api + "_") and p["ok"]), default=0)
    m["defects.cholesky_block_diagonal_ok"] = sum(
        1 for p in probes if p["name"] == "cholesky_block_diagonal" and p["ok"])

    # streaming: micro-batch progress of the traced pass's queries
    prog = [p for p in eng.get("progress", []) if lo <= p["ts"] <= hi]
    m["streaming.batches"] = len(prog)
    m["streaming.nodata_batches"] = sum(1 for p in prog if p["input_rows"] == 0)
    for k in ("trigger", "add_batch", "query_planning", "wal_commit"):
        m[f"streaming.{k}_s"] = _s(sum(p[k + "_ms"] for p in prog))
    m["streaming.state_rows"] = max((p["state_rows"] for p in prog), default=0)

    # JVM: collector deltas over the traced pass, process CPU share
    m["jvm.gc_s"] = _s(traced["gc_ms"])
    m["jvm.gc_count"] = traced["gc_count"]
    m["jvm.cpu_util"] = traced["cpu_s"] / (wall_s * res["nproc"]) if wall_s else 0.0
    # host: CPU time other guests took from this machine during the whole run
    m["host.steal_s"] = res["host_steal_s"]
    return m
