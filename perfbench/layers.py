"""Per-layer metrics of a traced pass: one set of counters per span.

A span is one public call the benchmark wraps, named after it.  Every
workload's traced run prints every metric listed here; a span the
workload never calls reads 0, which is the expected "does not move".
"""

from __future__ import annotations

from perfbench.workloads import SPANS, SUPERSTEP_SPANS, UDF_SPANS

SPAN_COUNTERS = (
    ("self_s", "s"),
    ("jobs", "count"),
    ("tasks", "count"),
    ("executor_run_ms", "ms"),
    ("shuffle_write_bytes", "bytes"),
    ("spill_bytes", "bytes"),
)
UDF_COUNTERS = (("python_run_ms", "ms"), ("python_bytes_sent", "bytes"))
SUPERSTEP_COUNTERS = (
    ("rounds", "count"),
    ("jobs_per_round", "jobs/round"),
    ("max_round_s", "s"),
    ("shuffle_bytes_per_round", "bytes/round"),
)
# (name, unit, better)
OTHER = (
    ("web.edges.dedup_ratio", "ratio", "higher"),
    ("graph.triangles.close_ratio", "ratio", "higher"),
    ("checkpoint.bytes_written", "bytes", "lower"),
    ("spark.failed_tasks", "count", "lower"),
    ("trace.overhead_s", "s", "lower"),
)

NOTES = [
    "Spans are the benchmark's own job groups around each public call; "
    "self_s is the call's wall time in the traced pass.",
    "Per-round frontier volume comes from the event log "
    "(layers.<span>.job_shuffle_write_bytes, one entry per Spark job in "
    "submission order), not from SuperstepResult.history: cc's history "
    "reports messages_shuffled as the edge count in every round "
    "(gminer_spark/graph/cc.py, step metrics), even when few labels change.",
    "rounds is SuperstepResult.supersteps_run; max_round_s comes from "
    "SuperstepResult.history, which fixed-round label_propagation returns "
    "empty, so its max_round_s reads 0.",
    "jobs_per_round divides all of a span's jobs, including its set-up "
    "jobs before the first superstep, by its rounds.",
    "spill_bytes is memory plus disk bytes spilled.",
    "The graph.triangles.oriented_edges span includes one aggregation job "
    "that counts the oriented wedges for graph.triangles.close_ratio.",
    "trace.overhead_s is the traced pass's wall time minus the median "
    "wall_s of this checkout's untraced runs of the workload (or of one "
    "untraced run in a child process when there are none).",
]


def catalog() -> list[tuple[str, str, str]]:
    """Every per-layer metric as (name, unit, better)."""
    out = []
    for span in SPANS:
        out += [(f"{span}.{c}", u, "lower") for c, u in SPAN_COUNTERS]
        if span in UDF_SPANS:
            out += [(f"{span}.{c}", u, "lower") for c, u in UDF_COUNTERS]
        if span in SUPERSTEP_SPANS:
            out += [(f"{span}.{c}", u, "lower") for c, u in SUPERSTEP_COUNTERS]
    return out + list(OTHER)


def layer_metrics(res: dict, groups: dict, untraced_wall_s: float) -> dict:
    (times,) = res["passes"]
    values: dict[str, float] = {}
    for span in SPANS:
        g = groups.get(span, {})
        values[f"{span}.self_s"] = times.get(span, 0.0)
        for c, _ in SPAN_COUNTERS[1:] + (UDF_COUNTERS if span in UDF_SPANS else ()):
            values[f"{span}.{c}"] = g.get(c, 0)
        if span in SUPERSTEP_SPANS:
            hist = res["history"].get(span, [])
            rounds = res["facts"].get(f"{span}.rounds", 0)
            values[f"{span}.rounds"] = rounds
            values[f"{span}.jobs_per_round"] = g.get("jobs", 0) / rounds if rounds else 0
            values[f"{span}.max_round_s"] = max((h["wall_sec"] for h in hist), default=0.0)
            values[f"{span}.shuffle_bytes_per_round"] = (
                g.get("shuffle_write_bytes", 0) / rounds if rounds else 0
            )
    facts = res["facts"]
    values["web.edges.dedup_ratio"] = facts.get("web.edges.dedup_ratio", 0.0)
    values["graph.triangles.close_ratio"] = facts.get("graph.triangles.close_ratio", 0.0)
    values["checkpoint.bytes_written"] = facts.get("checkpoint.bytes_written", 0)
    values["spark.failed_tasks"] = sum(g["failed_tasks"] for g in groups.values())
    values["trace.overhead_s"] = sum(times.values()) - untraced_wall_s
    units = {name: unit for name, unit, _ in catalog()}
    return {name: {"value": values[name], "unit": units[name]} for name, _, _ in catalog()}
