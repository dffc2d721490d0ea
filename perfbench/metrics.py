"""Turns the benchmark JVM's raw samples into the reported metrics.

Pure functions only, so the arithmetic is unit-tested without Spark:
percentiles and their sample-count rule, the union of job intervals
behind `driver_gap_s`, and the per-layer aggregation over spans.
"""

import math
import statistics

MB = 1e6

# Per-layer span families. Load and dedup spans share the base metrics;
# load spans add write metrics; read spans have their own set.
LOAD_SPANS = ["Scd2Tier.historizeTiered", "Historization.historizeRunTable"]
DEDUP_SPANS = ["Dedup.exactDuplicates", "Dedup.minhashNearDuplicates",
               "Dedup.duplicatedSpansExact"]
READ_SPANS = ["Scd2Tier.asOfTiered", "Scd2Tier.readTiered", "Historization.asOfRun"]

BASE = [("wall_s", "s", "lower"), ("jobs", "count", "lower"), ("tasks", "count", "lower"),
        ("executor_run_s", "s", "lower"), ("executor_cpu_s", "s", "lower"),
        ("parallelism", "ratio", "higher"), ("driver_gap_s", "s", "lower"),
        ("shuffle_write_mb", "MB", "lower"), ("shuffle_read_mb", "MB", "lower"),
        ("spill_mb", "MB", "lower"), ("plan_ms", "ms", "lower")]
LOAD_EXTRA = [("output_mb", "MB", "lower"), ("output_files", "count", "lower"),
              ("write_amp", "ratio", "lower"), ("fs_list_ops", "count", "lower"),
              ("fs_ops", "count", "lower")]
READ = [("wall_ms", "ms", "lower"), ("jobs", "count", "lower"), ("tasks", "count", "lower"),
        ("plan_ms", "ms", "lower"), ("driver_gap_s", "s", "lower"),
        ("fs_list_ops", "count", "lower"), ("input_rows", "rows", "lower"),
        ("rows_per_result", "ratio", "lower")]


def per_layer_spec():
    """[(metric name, unit, better)] of every per-layer metric, in order."""
    out = []
    for span in LOAD_SPANS + DEDUP_SPANS:
        fields = BASE + (LOAD_EXTRA if span in LOAD_SPANS else [])
        if span == "Dedup.minhashNearDuplicates":
            fields = fields + [("verified_per_candidate", "ratio", "higher")]
        out += [(f"{span}.{f}", u, b) for f, u, b in fields]
    for span in READ_SPANS:
        out += [(f"{span}.{f}", u, b) for f, u, b in READ]
    out += [("MetaEnrichment.addMetaColumns.plan_ms", "ms", "lower"),
            ("jvm.gc_s", "s", "lower"), ("trace.overhead_s", "s", "lower")]
    return out


END_TO_END = [("setup_s", "s"), ("op_p50_s", "s"), ("rows_per_s", "rows/s"),
              ("read_p50_ms", "ms"), ("store_mb", "MB"), ("peak_heap_mb", "MB")]


def percentile(xs, q):
    """Nearest-rank percentile: the smallest sample with at least a share
    `q` of the samples at or below it."""
    if not xs:
        raise ValueError("percentile of no samples")
    s = sorted(xs)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def samples_beyond(n, q):
    """How many of `n` samples lie above the nearest-rank `q` percentile."""
    return n - max(1, math.ceil(q * n)) if n else 0


def tail_percentile(n, beyond=10, qs=(0.99, 0.95, 0.9, 0.75, 0.5)):
    """The highest of `qs` with at least `beyond` of `n` samples above it
    (None when not even the median has): the tail a run may report."""
    return next((q for q in qs if samples_beyond(n, q) >= beyond), None)


def union_length(intervals, lo=None, hi=None):
    """Total length covered by `intervals` ([start, end] pairs), clipped to
    [lo, hi] when given. Overlapping and nested intervals count once."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    total, end = 0, None
    for a, b in sorted(clipped):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def driver_gap_s(span):
    """Span wall time not covered by any of its Spark jobs."""
    lo, hi = span["start_ms"], span["end_ms"]
    return (hi - lo - union_length(span["jobs"], lo, hi)) / 1e3


def span_fields(span):
    """Every per-span figure the per-layer metrics are made of."""
    wall_ms = span["end_ms"] - span["start_ms"]
    f = {
        "wall_s": wall_ms / 1e3, "wall_ms": float(wall_ms), "jobs": len(span["jobs"]),
        "tasks": span["tasks"], "executor_run_s": span["run_ms"] / 1e3,
        "executor_cpu_s": span["cpu_ns"] / 1e9, "driver_gap_s": driver_gap_s(span),
        "shuffle_write_mb": span["shuffle_write_b"] / MB,
        "shuffle_read_mb": span["shuffle_read_b"] / MB, "spill_mb": span["spill_b"] / MB,
        "plan_ms": span["plan_ms"], "output_mb": span["output_b"] / MB,
        "output_files": span["output_files"], "fs_list_ops": span["fs_list_ops"],
        "fs_ops": span["fs_ops"], "input_rows": span["input_rows"],
        "run_ms": span["run_ms"], "fs_written_b": span["fs_written_b"],
    }
    for k in ("input_batch_b", "rows_returned", "verified_per_candidate"):
        if k in span:
            f[k] = span[k]
    return f


def per_op(spans, name):
    """Fields of span `name` summed within each user operation."""
    ops = {}
    for s in spans:
        if s["name"] != name:
            continue
        f = span_fields(s)
        acc = ops.setdefault(s["op"], {})
        for k, v in f.items():
            acc[k] = acc.get(k, 0) + v
    out = []
    for acc in ops.values():
        acc["parallelism"] = acc["run_ms"] / max(acc["wall_ms"], 1.0)
        if "input_batch_b" in acc:
            acc["write_amp"] = acc["fs_written_b"] / max(acc["input_batch_b"], 1)
        if "rows_returned" in acc:
            acc["rows_per_result"] = acc["input_rows"] / max(acc["rows_returned"], 1)
        out.append(acc)
    return out


def per_layer(raw):
    """Every per-layer metric: the median over operations of each span's
    per-operation sum. A span the workload never calls reports 0."""
    spans = raw.get("spans", [])
    metrics = {}
    for name, unit, _ in per_layer_spec():
        span, field = name.rsplit(".", 1)
        if span == "jvm":
            value = raw.get("gc_s", 0.0)
        elif span == "trace":
            value = trace_overhead_s(raw["ops"])
        elif span == "MetaEnrichment.addMetaColumns":
            value = median_or_zero([o["wall_ms"] for o in per_op(spans, span)])
        else:
            value = median_or_zero([o.get(field, 0) for o in per_op(spans, span)])
        metrics[name] = {"value": value, "unit": unit}
    return metrics


def median_or_zero(xs):
    return float(statistics.median(xs)) if xs else 0.0


def step_walls(ops, traced):
    """Operation wall time summed per loop iteration: one iteration of a
    composite workload runs one operation of each part."""
    steps = {}
    for o in ops:
        if o["traced"] == traced:
            steps[o["step"]] = steps.get(o["step"], 0.0) + o["wall_s"]
    return list(steps.values())


def trace_overhead_s(ops):
    """Median traced iteration time minus median untraced iteration time
    (a traced run alternates the two)."""
    on, off = step_walls(ops, True), step_walls(ops, False)
    if not on or not off:
        return 0.0
    return statistics.median(on) - statistics.median(off)


def end_to_end(raw, launch_ns):
    """Every end-to-end metric from an untraced run; `launch_ns` is the
    monotonic-clock time (`time.monotonic_ns`) the JVM was launched at."""
    ops = [o for o in raw["ops"] if not o["traced"]]
    reads = [r["wall_ms"] for r in raw["reads"] if not r["traced"]]
    values = {
        "setup_s": (raw["main_start_ns"] - launch_ns) / 1e9 + raw["session_s"]
        + statistics.median(raw["prepare_s"]) + raw["warm_up_s"],
        "op_p50_s": statistics.median(step_walls(ops, False)),
        "rows_per_s": sum(o["rows"] for o in ops) / sum(o["wall_s"] for o in ops),
        "read_p50_ms": percentile(reads, 0.5),
        "store_mb": raw["store_b"] / MB,
        "peak_heap_mb": raw["peak_heap_b"] / MB,
    }
    return {name: {"value": values[name], "unit": unit} for name, unit in END_TO_END}
