"""Turn one run record into the metrics BENCHMARK.json names.

End-to-end (untraced runs): set-up time, pass wall and CPU time, op
latency percentiles, peak memory and bytes on disk. Per-layer (traced
runs): listener counts and span times, each per traced pass, plus the
tracing overhead.
"""
import statistics


def _pct(xs, q):
    """Percentile q (0..1) by linear interpolation between order stats."""
    s = sorted(xs)
    if len(s) == 1:
        return s[0]
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def kind_medians(ops):
    """Median latency of each op kind (query or read/commit kind)."""
    by = {}
    for o in ops:
        by.setdefault(o["name"], []).append(o["secs"])
    return [statistics.median(v) for v in by.values()]


def end_to_end(rec):
    passes = rec["passes"]
    # percentiles over op kinds: a workload mixes kinds whose latencies
    # differ by 3x, so a percentile over raw samples jumps between kinds
    # from run to run; each kind's median is steady
    lat = kind_medians(rec["ops"])
    m = {
        "setup_s": (statistics.median(rec["setup_s"]), "s"),
        "pass_s": (statistics.median(p["wall_s"] for p in passes), "s"),
        "cpu_s": (statistics.median(p["cpu_s"] for p in passes), "s"),
        "op_p50_s": (_pct(lat, 0.5), "s"),
        "op_p90_s": (_pct(lat, 0.9), "s"),
        "peak_rss_mb": (rec["peak_rss_mb"], "MB"),
        "disk_mb": (rec["disk_mb"], "MB"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


# per-layer metric -> (record key, unit); values are per traced pass
PER_PASS = {
    "queries.build_s": ("span.queries.build", "s"),
    "queries.action_s": ("span.queries.action", "s"),
    "io.read_call_s": ("span.io.read", "s"),
    "io.read_action_s": ("span.read.action", "s"),
    "io.commit_s": ("span.io.commit", "s"),
    "pipeline.incremental_s": ("span.pipeline.incremental", "s"),
    "io.write_s": ("io.write_s", "s"),
    "io.write_jobs": ("io.write_jobs", "count"),
    "ext.checkpoint_s": ("ext.checkpoint_s", "s"),
    "ext.checkpoint_jobs": ("ext.checkpoint_jobs", "count"),
    "plans.analysis_s": ("plans.analysis_s", "s"),
    "plans.optimization_s": ("plans.optimization_s", "s"),
    "plans.planning_s": ("plans.planning_s", "s"),
    "spark.driver_only_s": ("spark.driver_only_s", "s"),
    "spark.jobs": ("spark.jobs", "count"),
    "spark.sched_delay_s": ("spark.sched_delay_s", "s"),
    "spark.task_s": ("spark.task_s", "s"),
    "spark.cpu_s": ("spark.cpu_s", "s"),
    "spark.gc_s": ("spark.gc_s", "s"),
    "spark.shuffle_write_mb": ("spark.shuffle_write_mb", "MB"),
    "spark.shuffle_read_mb": ("spark.shuffle_read_mb", "MB"),
    "spark.fetch_wait_s": ("spark.fetch_wait_s", "s"),
    "spark.spill_mb": ("spark.spill_mb", "MB"),
    "spark.input_mb": ("spark.input_mb", "MB"),
    "spark.output_mb": ("spark.output_mb", "MB"),
    "spark.broadcast_jobs": ("spark.broadcast_jobs", "count"),
    "spark.task_failures": ("spark.task_failures", "count"),
    "trace.op_self_s": ("self.op", "s"),
}


# the spans of a lake read op; scans of commits and incremental cycles
# are not read-path figures
READ_SPANS = ("io.read", "read.action")


def per_layer(rec):
    lay = rec["layers"]
    n = lay.get("traced_passes", 0) or 1
    m = {k: (lay.get(src, 0.0) / n, u) for k, (src, u) in PER_PASS.items()}
    files = sum(lay.get(f"{s}:io.files_scanned", 0.0) for s in READ_SPANS)
    scanned = sum(lay.get(f"{s}:io.rows_scanned", 0.0) for s in READ_SPANS)
    m["io.files_scanned"] = (files / n, "count")
    m["io.rows_scanned"] = (scanned / n, "count")
    # rows the reads of the traced passes returned per row their scans produced
    traced = {p["pass"] for p in rec["passes"] if p["traced"]}
    returned = sum(o["detail"].get("n", 0) for o in rec["ops"]
                   if o["ok"] and o["pass"] in traced and o["name"].startswith("read_"))
    m["io.scan_efficiency"] = (returned / scanned if scanned else 0.0, "ratio")
    job_wall = lay.get("spark.job_wall_s", 0.0)
    busy = lay.get("spark.task_s", 0.0) / (job_wall * lay.get("cores", 4)) if job_wall else 0.0
    m["spark.busy_frac"] = (busy, "ratio")
    op_wall = lay.get("op_wall_s", 0.0)
    m["trace.unattributed_frac"] = (lay.get("self.op", 0.0) / op_wall if op_wall else 0.0,
                                    "ratio")
    untraced = lay.get("untraced_pass_s", 0.0)
    m["trace.traced_pass_s"] = (lay.get("traced_pass_s", 0.0), "s")
    m["trace.untraced_pass_s"] = (untraced, "s")
    m["trace.overhead_frac"] = (lay.get("traced_pass_s", 0.0) / untraced - 1
                                if untraced else 0.0, "ratio")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}
