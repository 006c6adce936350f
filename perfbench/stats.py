"""Pure arithmetic of the benchmark: summary statistics, span self time,
driver time, and the per-layer metrics derived from one traced run."""
import statistics

MB = 1024.0 * 1024.0


def median(values):
    return statistics.median(values)


def quartiles(values):
    """(q1, q3) as `statistics.quantiles(values, n=4)` gives them."""
    q = statistics.quantiles(values, n=4)
    return q[0], q[2]


def spread(values):
    """Interquartile distance as a share of the median."""
    q1, q3 = quartiles(values)
    return (q3 - q1) / median(values)


def union_length(intervals, lo=None, hi=None):
    """Total length covered by `intervals` ((start, end) pairs), clipped to
    [lo, hi] when given; overlaps count once."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(clipped):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """{span id: duration minus the part of it its child spans cover}.
    Children may overlap each other; the covered part counts once."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - union_length(children.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def driver_time(span, jobs):
    """Span wall time not covered by any running Spark job."""
    return (span["end"] - span["start"]) - union_length(
        [(j["start"], j["end"]) for j in jobs], span["start"], span["end"])


# per-layer metric name -> (span name, what to take); "group" fields come from
# the listener's aggregate for the span's job-group label
LAYER_METRICS = {
    "cli.worktree_s": ("cli.worktree", "wall"),
    "cli.cleanup_s": ("cli.cleanup", "wall"),
    "modelrun.build_s": ("modelrun", "wall"),
    "modelrun.driver_s": ("modelrun", "driver"),
    "modelrun.jobs": ("modelrun", "jobs"),
    "modelrun.models": ("modelrun", "count:models"),
    "engine.snapshot_s": ("engine.snapshot", "wall"),
    "engine.snapshot_driver_s": ("engine.snapshot", "driver"),
    "engine.snapshot_jobs": ("engine.snapshot", "jobs"),
    "engine.snapshot_tasks": ("engine.snapshot", "tasks"),
    "engine.snapshot_executor_s": ("engine.snapshot", "executor_run_s"),
    "engine.snapshot_input_rows": ("engine.snapshot", "input_rows"),
    "engine.snapshot_shuffle_write_mb": ("engine.snapshot", "mb:shuffle_write_bytes"),
    "engine.snapshot_output_mb": ("engine.snapshot", "mb:output_bytes"),
    "engine.snapshot_spill_mb": ("engine.snapshot", "mb:spill_bytes"),
    "engine.precheck_s": ("engine.precheck", "wall"),
    "engine.precheck_jobs": ("engine.precheck", "jobs"),
    "engine.precheck_input_rows": ("engine.precheck", "input_rows"),
    "engine.diff_s": ("engine.diff", "wall"),
    "engine.diff_driver_s": ("engine.diff", "driver"),
    "engine.diff_jobs": ("engine.diff", "jobs"),
    "engine.diff_tasks": ("engine.diff", "tasks"),
    "engine.diff_executor_s": ("engine.diff", "executor_run_s"),
    "engine.diff_input_rows": ("engine.diff", "input_rows"),
    "engine.diff_shuffle_write_mb": ("engine.diff", "mb:shuffle_write_bytes"),
    "engine.diff_spill_mb": ("engine.diff", "mb:spill_bytes"),
    "engine.diff_pinned_mb": ("engine.diff", "mb:pinned_peak_bytes"),
    "formatters.render_s": ("formatters.render", "wall"),
    "operators.neardup_s": ("operators.neardup", "wall"),
    "operators.neardup_jobs": ("operators.neardup", "jobs"),
    "operators.neardup_shuffle_write_mb": ("operators.neardup", "mb:shuffle_write_bytes"),
    "operators.neardup_removed": ("operators.neardup", "count:removed"),
    "operators.quality_pack_s": ("operators.quality_pack", "wall"),
    "operators.quality_pack_jobs": ("operators.quality_pack", "jobs"),
    "cli.curate_materialize_s": ("cli.curate_materialize", "wall"),
    "engine.corpusio_read_s": ("engine.corpusio_read", "wall"),
    "engine.corpusio_write_s": ("engine.corpusio_write", "wall"),
    "engine.corpusio_output_mb": ("engine.corpusio_write", "mb:output_bytes"),
}

RUN_WIDE = {
    "spark.jobs": "jobs",
    "spark.stages": "stages",
    "spark.tasks": "tasks",
    "spark.executor_s": "executor_run_s",
    "spark.executor_cpu_s": "executor_cpu_s",
    "spark.gc_s": "gc_s",
    "spark.input_mb": "mb:input_bytes",
    "spark.shuffle_write_mb": "mb:shuffle_write_bytes",
    "spark.spill_mb": "mb:spill_bytes",
}


def _group_value(group, what):
    if what.startswith("mb:"):
        return group.get(what[3:], 0) / MB
    return group.get(what, 0)


def layer_metrics(trace):
    """Per-layer metrics of one traced run. A layer the workload does not run
    reads 0. Spans sharing a name (the base and head sides) are summed."""
    spans, jobs, groups = trace["spans"], trace["jobs"], trace["groups"]
    out = {}
    for metric, (name, what) in LAYER_METRICS.items():
        mine = [s for s in spans if s["name"] == name]
        if what == "wall":
            v = sum(s["end"] - s["start"] for s in mine)
        elif what == "driver":
            v = sum(driver_time(s, jobs) for s in mine)
        elif what.startswith("count:"):
            v = sum(s["counts"].get(what[6:], 0) for s in mine)
        else:
            v = _group_value(groups.get(name, {}), what)
        out[metric] = v
    for metric, what in RUN_WIDE.items():
        out[metric] = sum(_group_value(g, what) for g in groups.values())
    out["spark.pinned_peak_mb"] = trace["pinned_peak_bytes"] / MB
    out["spark.pinned_end_blocks"] = trace["pinned_end_blocks"]
    ready, output = trace["ready"], trace["output"]
    out["trace.wall_s"] = output - ready
    out["trace.unattributed_s"] = (output - ready) - union_length(
        [(s["start"], s["end"]) for s in spans if s["parent"] == -1], ready, output)
    return out
