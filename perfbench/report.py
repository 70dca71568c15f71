"""Turns the harness's raw timings into the benchmark's metrics.

Pure functions over the parsed `harness.json`, so the metric
definitions can be tested without a JVM.
"""
import math
import statistics
from collections import Counter

# End-to-end metrics of untraced runs, name -> unit. These are the
# ones BENCHMARK.json bounds; a run prints them as its result.
END_TO_END = {
    "setup_s": "s",
    "suite_s": "s",
    "query_geomean_ms": "ms",
    "cpu_s": "s",
}

# End-to-end metrics printed on the summary line only: order statistics
# over the few (5 to 16) executions of one pass jump between queries
# from run to run, peak RSS follows G1's heap sizing (it spread 14-30%
# across ten seeds), error_rate is 0 when nothing fails and build_s
# exists for index_lifecycle only.
REPORTED = {
    "peak_rss_mb": "MB",
    "query_p50_ms": "ms",
    "query_tail_ms": "ms",
    "error_rate": "ratio",
    "build_s": "s",
}

# Per-layer metrics (traced runs) that are not named by the harness's
# own metric list, name -> unit.
TRACE_EXTRA = {
    "trace.overhead": "ratio",
    "trace.nonrepeating_counts": "count",
}


def per_layer_unit(name):
    """Unit of a per-layer metric, from its name's suffix or family."""
    if name.endswith("_ms") or ".build_ms." in name:
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes") or name == "index.bytes":
        return "bytes"
    if name in TRACE_EXTRA:
        return TRACE_EXTRA[name]
    if name in ("sched.task_skew", "sched.slot_util"):
        return "ratio"
    return "count"


def tail_percentile(n):
    """Highest whole percentile with at least 10 samples beyond it
    (nearest-rank). When no percentile above the median has that many
    beyond it (fewer than 21 samples), the maximum (100) is reported
    instead, so that a tail never reads below the median."""
    for p in range(99, 50, -1):
        if n - math.ceil(p * n / 100) >= 10:
            return p
    return 100


def nearest_rank(sorted_values, p):
    rank = max(1, math.ceil(p * len(sorted_values) / 100))
    return sorted_values[rank - 1]


def per_query_times(harness):
    """key -> list of measured milliseconds, in pass order."""
    times = {}
    for p in harness["measured"]:
        for key, ms in p["times_ms"]:
            times.setdefault(key, []).append(ms)
    return times


def end_to_end(harness, launch_epoch_s):
    """The bounded end-to-end metric values of one run."""
    passes = harness["measured"]
    medians = [statistics.median(v) for v in per_query_times(harness).values()]
    return {
        "setup_s": harness["warmup_end_ms"] / 1000.0 - launch_epoch_s,
        "suite_s": statistics.median(p["wall_s"] for p in passes),
        "query_geomean_ms": math.exp(statistics.fmean(
            math.log(max(m, 1e-3)) for m in medians)),
        "cpu_s": statistics.median(p["cpu_s"] for p in passes),
    }


def failures(harness, mismatches):
    """(attempted, failed) executions. An execution fails when it throws;
    a result key whose warm-up result mismatches its oracle counts as
    failed in every one of its executions, since the checked query runs
    unchanged on the same data in every pass."""
    thrown = Counter(e["key"] for e in harness["errors"])
    executions = harness["executions"]
    failed = sum(n if k in mismatches else min(n, thrown[k])
                 for k, n in executions.items())
    return sum(executions.values()), failed


def reported(harness, failed, attempted):
    """The summary-only end-to-end metrics, as {name: {value, unit, ...}};
    query_tail_ms also carries its percentile and sample counts."""
    samples = sorted(ms for v in per_query_times(harness).values() for ms in v)
    pct = tail_percentile(len(samples))
    out = {
        "peak_rss_mb": metric(harness["peak_rss_mb"], "MB"),
        "query_p50_ms": metric(statistics.median(samples), "ms"),
        "query_tail_ms": dict(
            metric(nearest_rank(samples, pct), "ms"), percentile=pct,
            samples=len(samples),
            samples_beyond=len(samples) - math.ceil(pct * len(samples) / 100)),
        "error_rate": metric(failed / attempted, "ratio"),
    }
    b = build_s(harness)
    if b is not None:
        out["build_s"] = metric(b, "s")
    return out


def build_s(harness):
    """Sum over index-owning queries of (cold - warm) median seconds,
    or None when the workload has no cold executions."""
    times = per_query_times(harness)
    cold = {k[:-len("@cold")]: v for k, v in times.items() if k.endswith("@cold")}
    if not cold:
        return None
    return sum(statistics.median(v) - statistics.median(times.get(q + "@warm", [0.0]))
               for q, v in cold.items()) / 1000.0


def metric(value, unit):
    return {"value": value, "unit": unit}
