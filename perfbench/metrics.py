"""Metric names and the reduction from one JVM result to the printed
metrics. BENCHMARK.json lists exactly these names (a test keeps the two in
step)."""

import statistics

END_TO_END = [
    # name, unit, better
    ("setup_s", "s", "lower"),
    ("wall_s", "s", "lower"),
    ("op_p50_s", "s", "lower"),
    ("op_p90_s", "s", "lower"),
    ("ops_ok_frac", "fraction", "higher"),
    ("peak_rss_mb", "MB", "lower"),
]

# Spans the per-layer report names, per workload BENCHMARK.json runs.
CORPUS_SPANS = [
    "spark.read_inputs", "text.cleanText", "dedup.exactDedup",
    "dedup.simhashPairs", "dedup.editVerify", "dedup.DupClusters",
    "dedup.decontaminate", "text.qualityFeatures", "etl.DataMix",
    "pipeline.CorpusCuration", "pipeline.Sinks",
]
ANALYTICS_SPANS = [
    "etl.GlobalIndex_users", "etl.queries", "stats.queries",
    "sketch.queries", "sim.queries", "inference.queries", "cluster.queries",
]
SPAN_METRICS = [("self_s", "s"), ("jobs", "count"), ("exec_run_s", "s"),
                ("shuffle_mb", "MB")]
WHOLE_RUN = [
    ("spark.jobs", "count"), ("spark.stages", "count"),
    ("spark.tasks", "count"), ("spark.gc_s", "s"), ("spark.spill_mb", "MB"),
    ("spark.shuffle_mb", "MB"), ("spark.task_skew", "ratio"),
    ("spark.core_busy_frac", "fraction"), ("driver.self_s", "s"),
    ("cached_mb_left", "MB"),
    ("dedup.candidate_pairs", "count"), ("dedup.confirmed_pairs", "count"),
    ("dedup.confirm_ratio", "fraction"),
    ("unattributed_job_frac", "fraction"), ("tracing.overhead_s", "s"),
]
# a higher value is better only for these per-layer metrics
HIGHER_IS_BETTER = {"spark.core_busy_frac", "dedup.confirm_ratio"}


def per_layer():
    """[(name, unit)] of every per-layer metric, in report order. A traced
    run of any workload prints all of them; spans the workload does not
    enter read 0, and spans outside this list go to the detail line."""
    return [(f"{s}.{m}", u) for s in CORPUS_SPANS + ANALYTICS_SPANS
            for m, u in SPAN_METRICS] + WHOLE_RUN


def _quantile(xs, q):
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def _count(res, failures):
    """(attempted, failed) ops of one JVM result; an op fails when it raised
    or when its output failed a check."""
    bad = {(f["pass"], f["op"]) for f in failures}
    attempted = failed = 0
    for p in res["passes"]:
        for i, op in enumerate(p["ops"]):
            attempted += 1
            failed += (not op["ok"]) or (p["index"], i) in bad
    return attempted, failed


def _timings(res, failures, traced=False):
    """(op seconds, pass walls) of the untraced or the traced timed passes
    that fully succeeded."""
    bad = {(f["pass"], f["op"]) for f in failures}
    op_times, walls = [], []
    for p in res["passes"]:
        if p.get("warmup") or bool(p.get("traced")) != traced:
            continue
        ok = [op["ok"] and (p["index"], i) not in bad
              for i, op in enumerate(p["ops"])]
        op_times += [op["seconds"] for op, good in zip(p["ops"], ok) if good]
        if all(ok):
            walls.append(sum(op["seconds"] for op in p["ops"]))
    return op_times, walls


def summarise(res, failures, trace):
    """Reduces a JVM result and the checker's failures to the printed
    metrics. With --trace 1 the result holds untraced timed passes, then
    traced ones."""
    attempted, failed = _count(res, failures)
    attempted = max(1, attempted)
    op_times, walls = _timings(res, failures, traced=bool(trace))
    detail = {"passes": len(res["passes"]), "ops_timed": len(op_times),
              "pass_walls_s": [round(w, 4) for w in walls]}
    if not trace:
        vals = {
            "setup_s": res["setup_s"],
            "wall_s": statistics.median(walls) if walls else 0.0,
            "op_p50_s": _quantile(op_times, 0.5) if op_times else 0.0,
            "op_p90_s": _quantile(op_times, 0.9) if op_times else 0.0,
            "ops_ok_frac": 1.0 - failed / attempted,
            "peak_rss_mb": res["peak_rss_mb"],
        }
        out = {n: {"value": vals[n], "unit": u} for n, u, _ in END_TO_END}
    else:
        layers = dict(res.get("layers", {}))
        _, untraced = _timings(res, failures)
        if walls and untraced:
            layers["tracing.overhead_s"] = (statistics.median(walls)
                                            - statistics.median(untraced))
        out = {n: {"value": float(layers.get(n, 0.0)), "unit": u}
               for n, u in per_layer()}
        detail["other_layers"] = {k: v for k, v in sorted(layers.items())
                                  if k not in out}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": out, "detail": detail}
