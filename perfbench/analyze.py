"""Per-layer metrics from one traced run's record.

The JVM keeps spans (name, start, end, parent, iteration, pass, counts),
Spark task/stage/job records and pipeline stage-write times in memory and
writes them once; this module turns them into the `per_layer` metrics of
BENCHMARK.json. A layer is the first segment of a span name.

Spans of the traced iterations (pass "main") are averaged per iteration;
layer probes (pass "probe") run once; the local[1] pass ("local1") only
feeds the single-core baseline.
"""
import statistics

LAYERS = ("sources", "operators", "model", "functions", "streaming", "pipeline")
PIPELINE_STAGES = ("markers_filtered", "markers_cal", "markers_val",
                   "calibration", "gaze", "error")

# name -> (unit, better); every name is reported on every workload, as 0
# where the workload does not reach that layer.
PER_LAYER = {
    "sources.decode_s": ("s", "lower"), "sources.rows": ("count", "higher"),
    "sources.bytes": ("bytes", "higher"), "sources.rows_per_s": ("rows/s", "higher"),
    "sources.tasks": ("count", "lower"),
    "operators.filter_cluster_s": ("s", "lower"),
    "operators.filter_cluster_rows_out": ("count", "higher"),
    "operators.asof_s": ("s", "lower"), "operators.asof_rows": ("count", "higher"),
    "model.reduce_s": ("s", "lower"), "model.fit_s": ("s", "lower"),
    "model.fits": ("count", "higher"), "model.fit_yield": ("fraction", "higher"),
    "model.apply_s": ("s", "lower"), "model.apply_rows_per_s": ("rows/s", "higher"),
    "model.error_s": ("s", "lower"),
    "functions.tps_eval_rows_per_s": ("rows/s", "higher"),
    "functions.pq_asim_rows_per_s": ("rows/s", "higher"),
    "functions.text_hash_rows_per_s": ("rows/s", "higher"),
    "streaming.batch_s_p50": ("s", "lower"), "streaming.batches": ("count", "lower"),
    "streaming.state_rows": ("count", "lower"), "streaming.state_bytes": ("bytes", "lower"),
    "streaming.late_rows_dropped": ("count", "lower"),
    "streaming.backlog_files_max": ("count", "lower"),
    "streaming.queue_wait_s_p50": ("s", "lower"), "streaming.merge_batch_s": ("s", "lower"),
    "streaming.drain_s": ("s", "lower"),
    **{"pipeline.stage_s." + s: ("s", "lower") for s in PIPELINE_STAGES},
    "pipeline.bytes_written": ("bytes", "lower"),
    "pipeline.stages_computed": ("count", "higher"),
    "pipeline.stages_memoized": ("count", "higher"),
    "pipeline.stages_failed": ("count", "lower"), "pipeline.memo_read_s": ("s", "lower"),
    "operators.text.minhash_s": ("s", "lower"), "operators.text.lsh_pairs_s": ("s", "lower"),
    "operators.text.pair_yield": ("fraction", "higher"),
    "operators.ann.build_s": ("s", "lower"), "operators.ann.append_s": ("s", "lower"),
    "operators.ann.search_s": ("s", "lower"),
    **{l + ".self_s": ("s", "lower") for l in LAYERS},
    **{"spark.busy_cores." + l: ("cores", "higher") for l in LAYERS},
    "spark.jobs": ("count", "lower"), "spark.stages": ("count", "lower"),
    "spark.tasks": ("count", "lower"), "spark.single_task_stages": ("count", "lower"),
    "spark.busy_cores": ("cores", "higher"), "spark.executor_cpu_s": ("s", "lower"),
    "spark.gc_s": ("s", "lower"), "spark.shuffle_write_bytes": ("bytes", "lower"),
    "spark.shuffle_read_bytes": ("bytes", "lower"), "spark.spill_bytes": ("bytes", "lower"),
    "spark.driver_only_s": ("s", "lower"),
    "spark.local1.busy_cores": ("cores", "higher"),
    "spark.local1.speedup": ("ratio", "higher"),
    "trace.overhead_s": ("s", "lower"),
}


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def clip(iv, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in iv if min(e, hi) > max(s, lo)]


def self_times(spans):
    """Span id -> self time (ms): the span's duration minus the part of
    its interval covered by its child spans."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["startMs"], s["endMs"]))
    return {s["id"]: (s["endMs"] - s["startMs"]) -
            union_length(clip(kids.get(s["id"], []), s["startMs"], s["endMs"]))
            for s in spans}


def innermost(spans, t):
    """The innermost span whose interval holds time t, or None."""
    best = None
    for s in spans:
        if s["startMs"] <= t <= s["endMs"] and (
                best is None or s["startMs"] >= best["startMs"]):
            best = s
    return best


def per_layer(rec):
    spans = rec.get("spans", [])
    main = [s for s in spans if s["pass"] == "main"]
    probe = [s for s in spans if s["pass"] == "probe"]
    n_it = max(1, len({s["iteration"] for s in main}))
    selfs = self_times(spans)
    tasks = rec.get("tasks", [])
    out = {k: 0.0 for k in PER_LAYER}

    def pick(name, pool=None):
        return [s for s in (pool if pool is not None else main + probe) if s["name"] == name]

    def per_it(ss):
        # spans of the traced iterations average per iteration; probes count once
        return sum(1.0 / n_it if s["pass"] == "main" else 1.0 for s in ss)

    def dur(name):
        return sum((s["endMs"] - s["startMs"]) / 1000.0 * per_it([s]) for s in pick(name))

    def attr(name, key):
        return sum(s["attrs"].get(key, 0.0) * per_it([s]) for s in pick(name))

    def ratio(a, b):
        return a / b if b else 0.0

    out["sources.decode_s"] = dur("sources.read")
    out["sources.rows"] = attr("sources.read", "rows")
    out["sources.bytes"] = attr("sources.read", "bytes")
    out["sources.rows_per_s"] = ratio(out["sources.rows"], out["sources.decode_s"])
    for name, key in (("operators.filter_cluster", "filter_cluster"), ("operators.asof", "asof")):
        out["operators.%s_s" % key] = dur(name)
    out["operators.filter_cluster_rows_out"] = attr("operators.filter_cluster", "rows")
    out["operators.asof_rows"] = attr("operators.asof", "rows")
    out["model.reduce_s"] = dur("model.reduce")
    out["model.fit_s"] = dur("model.fit") + dur("model.fit_binocular")
    out["model.fits"] = attr("model.fit", "fits") + per_it(pick("model.fit_binocular"))
    out["model.fit_yield"] = ratio(out["model.fits"], attr("model.fit", "attempted")
                                   + per_it(pick("model.fit_binocular")))
    out["model.apply_s"] = dur("model.apply")
    out["model.apply_rows_per_s"] = ratio(attr("model.apply", "rows"), out["model.apply_s"])
    out["model.error_s"] = dur("model.error")
    for k in ("tps_eval", "pq_asim", "text_hash"):
        out["functions.%s_rows_per_s" % k] = ratio(attr("functions." + k, "rows"),
                                                   dur("functions." + k))
    for k in ("batch_s_p50", "batches", "state_rows", "state_bytes", "queue_wait_s_p50",
              "backlog_files_max"):
        out["streaming." + k] = attr("streaming.open_loop", k)
    out["streaming.late_rows_dropped"] = (attr("streaming.open_loop", "late_rows_dropped")
                                          + attr("streaming.drain", "late_rows_dropped"))
    out["streaming.merge_batch_s"] = dur("streaming.merge_batch")
    out["streaming.drain_s"] = dur("streaming.drain")
    out.update(stage_times(pick("pipeline.run", main), rec.get("stage_writes", []), n_it))
    out["pipeline.bytes_written"] = attr("pipeline.run", "bytes")
    out["pipeline.stages_computed"] = attr("pipeline.run", "computed")
    # the memoized re-run repeats within an iteration: report one re-run
    reruns = max(1.0, per_it(pick("pipeline.memo")))
    out["pipeline.stages_memoized"] = attr("pipeline.memo", "memoized") / reruns
    out["pipeline.stages_failed"] = sum(attr(n, k) for n in ("pipeline.run", "pipeline.memo")
                                        for k in ("failed", "skipped"))
    out["pipeline.memo_read_s"] = dur("pipeline.memo_read") / reruns
    out["operators.text.minhash_s"] = dur("operators.text.minhash")
    out["operators.text.lsh_pairs_s"] = dur("operators.text.lsh_pairs")
    out["operators.text.pair_yield"] = ratio(attr("operators.text.lsh_pairs", "true_pairs"),
                                             attr("operators.text.lsh_pairs", "candidate_pairs"))
    for k in ("build", "append", "search"):
        out["operators.ann.%s_s" % k] = dur("operators.ann." + k)

    # layer self time, and the task time that finished inside its spans
    run_s = {}
    for t in tasks:
        s = innermost(main + probe, t["finishMs"])
        if s is not None:
            layer = s["name"].split(".")[0]
            run_s[layer] = run_s.get(layer, 0.0) + t["runMs"] / 1000.0 * per_it([s])
            if layer == "sources":
                out["sources.tasks"] += per_it([s])
    for layer in LAYERS:
        self_s = sum(selfs[s["id"]] / 1000.0 * per_it([s])
                     for s in main + probe if s["name"].split(".")[0] == layer)
        out[layer + ".self_s"] = self_s
        out["spark.busy_cores." + layer] = ratio(run_s.get(layer, 0.0), self_s)

    out.update(spark_counters(main, tasks, rec.get("stages", []), rec.get("jobs", []), n_it))
    local1 = [s for s in spans if s["pass"] == "local1"]
    if local1:
        lo, hi = min(s["startMs"] for s in local1), max(s["endMs"] for s in local1)
        l1 = [t for t in tasks if lo <= t["finishMs"] <= hi]
        out["spark.local1.busy_cores"] = ratio(sum(t["runMs"] for t in l1), hi - lo)
        walls = [w["wallS"] for w in rec.get("traced_iterations", [])]
        out["spark.local1.speedup"] = ratio(rec["local1_iteration"][0]["wallS"],
                                            statistics.median(walls))
    walls = [w["wallS"] for w in rec.get("iterations", []) if w["wallS"] == w["wallS"]]
    traced = [w["wallS"] for w in rec.get("traced_iterations", []) if w["wallS"] == w["wallS"]]
    if walls and traced:
        out["trace.overhead_s"] = statistics.median(traced) - statistics.median(walls)
    return {k: (v, PER_LAYER[k][0]) for k, v in out.items()}


def stage_times(runs, writes, n_it):
    """Pipeline stage wall times: each stage runs from the previous
    stage's write (or the run's start) to its own write."""
    out = {}
    for r in runs:
        prev = r["startMs"]
        for stage, end in sorted((w for w in writes if r["startMs"] <= w[1] <= r["endMs"]),
                                 key=lambda w: w[1]):
            if stage in PIPELINE_STAGES:
                key = "pipeline.stage_s." + stage
                out[key] = out.get(key, 0.0) + (end - prev) / 1000.0 / n_it
            prev = end
    return out


def spark_counters(main, tasks, stages, jobs, n_it):
    """Spark execution counters over the traced iterations' windows."""
    windows = []
    for it in sorted({s["iteration"] for s in main}):
        ss = [s for s in main if s["iteration"] == it]
        windows.append((min(s["startMs"] for s in ss), max(s["endMs"] for s in ss)))

    def inside(t):
        return any(lo <= t <= hi for lo, hi in windows)

    ts = [t for t in tasks if inside(t["finishMs"])]
    st = [s for s in stages if inside(s["doneMs"])]
    wall = sum(hi - lo for lo, hi in windows)
    busy = sum(union_length(clip([tuple(j) for j in jobs], lo, hi)) for lo, hi in windows)
    n = float(n_it)
    return {
        "spark.jobs": sum(1 for j in jobs if inside(j[0])) / n,
        "spark.stages": len(st) / n,
        "spark.tasks": len(ts) / n,
        "spark.single_task_stages": sum(1 for s in st if s["tasks"] == 1) / n,
        "spark.busy_cores": sum(t["runMs"] for t in ts) / wall if wall else 0.0,
        "spark.executor_cpu_s": sum(t["cpuNs"] for t in ts) / 1e9 / n,
        "spark.gc_s": sum(t["gcMs"] for t in ts) / 1000.0 / n,
        "spark.shuffle_write_bytes": sum(t["shuffleWrite"] for t in ts) / n,
        "spark.shuffle_read_bytes": sum(t["shuffleRead"] for t in ts) / n,
        "spark.spill_bytes": sum(t["spill"] for t in ts) / n,
        "spark.driver_only_s": (wall - busy) / 1000.0 / n,
    }
