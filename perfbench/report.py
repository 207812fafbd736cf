"""Per-layer metrics of a traced run.

Every workload reports the same metric names (``metric_units``, the
per-layer list in BENCHMARK.json). A layer the workload does not call
reads 0.
Values are per traced iteration: totals divided by the iteration count,
except the lookup percentiles, which pool every traced get, and
``query_p50_s``, the median query wall of the untraced iterations.
"""

from __future__ import annotations

import statistics

import spans
from workloads import REGISTRY_LAYERS, percentile

# fs_lifecycle span names; each gives a ``<name>_s`` metric.
FS_STEPS = (
    "sources.read_csv", "store.create_table", "merge.merge_into_table",
    "lookup.create_training_set", "lookup.load_df_exec", "mlpath.train_gbt",
    "mlpath.register", "mlpath.score_batch", "online.full_sync", "online.delta_sync",
)
SPARK_FIELDS = {
    "spark.tasks": ("tasks", "count"),
    "spark.executor_run_s": ("run_s", "s"),
    "spark.executor_cpu_s": ("cpu_s", "s"),
    "spark.scheduler_delay_s": ("sched_delay_s", "s"),
    "spark.gc_s": ("gc_s", "s"),
    "spark.shuffle_read_bytes": ("shuffle_read", "bytes"),
    "spark.shuffle_write_bytes": ("shuffle_write", "bytes"),
    "spark.spill_bytes": ("spill", "bytes"),
    "spark.input_bytes": ("input_bytes", "bytes"),
    "spark.output_bytes": ("output_bytes", "bytes"),
    "spark.task_failures": ("task_failures", "count"),
}


def metric_units() -> dict[str, str]:
    """Every per-layer metric name with its unit, in report order."""
    units = {"query_p50_s": "s", "session.get_spark_s": "s"}
    for step in FS_STEPS:
        units[f"{step}_s"] = "s"
    units.update({
        "sources.read_csv_jobs": "count",
        "store.create_table_jobs": "count",
        "store.bytes_written": "bytes",
        "store.stored_bytes_ratio": "ratio",
        "merge.bytes_written": "bytes",
        "lookup.shuffle_bytes": "bytes",
        "mlpath.train_gbt_jobs": "count",
        "online.keys_written": "count",
        "online.get_p50_us": "us",
        "online.get_p99_us": "us",
    })
    for layer in REGISTRY_LAYERS:
        units.update({f"{layer}.build_s": "s", f"{layer}.exec_s": "s",
                      f"{layer}.build_jobs": "count", f"{layer}.py4j_calls": "count"})
    units["cacheutil.checkpoints_released"] = "count"
    units["spark.jobs"] = "count"
    units.update({k: u for k, (_, u) in SPARK_FIELDS.items()})
    units.update({
        "driver.self_s": "s",
        "memory.peak_rss_mb": "MB",
        "trace.overhead_s": "s",
        "trace.span_coverage": "ratio",
        "checks.failed_ops_ratio": "ratio",
    })
    return units


def per_layer(tracer, event_log: str, traced: list, plain: list, *, session_s: float,
              peak_rss_mb: float, failed_ratio: float) -> dict[str, tuple[float, str]]:
    units = metric_units()
    vals = dict.fromkeys(units, 0.0)
    n = len(traced)
    traced_spans = [s for s in tracer.spans if s.iteration >= 0]
    jobs = spans.parse_event_log(event_log, spans.span_depths(tracer.spans))
    by_span: dict[int, list] = {}
    for js in jobs.values():
        by_span.setdefault(js.span, []).append(js)
    has_child = {s.parent for s in traced_spans}

    for sp in traced_spans:
        mine = by_span.get(sp.sid, [])
        name = sp.name
        if name in FS_STEPS:
            vals[f"{name}_s"] += sp.seconds
            if f"{name}_jobs" in vals:
                vals[f"{name}_jobs"] += len(mine)
            if name == "store.create_table":
                vals["store.bytes_written"] += sum(j.output_bytes for j in mine)
            elif name == "merge.merge_into_table":
                vals["merge.bytes_written"] += sum(j.output_bytes for j in mine)
            elif name == "lookup.load_df_exec":
                vals["lookup.shuffle_bytes"] += sum(j.shuffle_write for j in mine)
        elif name.endswith((".build", ".exec")):
            layer, kind = name.rsplit(".", 1)
            if layer in REGISTRY_LAYERS:
                vals[f"{layer}.{kind}_s"] += sp.seconds
                if kind == "build":
                    vals[f"{layer}.build_jobs"] += len(mine)
                    vals[f"{layer}.py4j_calls"] += sp.py4j
        elif name == "cacheutil.release_checkpoints":
            vals["cacheutil.checkpoints_released"] += sp.attrs.get("released", 0)
        if sp.sid not in has_child:
            vals["driver.self_s"] += spans.uncovered_seconds(sp, mine)
        vals["spark.jobs"] += len(mine)
        for key, (field, _) in SPARK_FIELDS.items():
            vals[key] += sum(getattr(j, field) for j in mine)

    for key in vals:
        vals[key] /= n
    roots = [s for s in traced_spans if s.parent is None]
    child_s = sum(s.seconds for s in traced_spans if s.parent is not None
                  and s.parent in {r.sid for r in roots})
    vals["trace.span_coverage"] = child_s / sum(r.seconds for r in roots)
    vals["trace.overhead_s"] = (
        statistics.median(r.wall_s for r in traced)
        - statistics.median(r.wall_s for r in plain)
    )
    vals["query_p50_s"] = statistics.median(q for r in plain for q in r.query_walls)
    vals["session.get_spark_s"] = session_s
    vals["memory.peak_rss_mb"] = peak_rss_mb
    vals["checks.failed_ops_ratio"] = failed_ratio
    gets = [ns for r in traced for ns in r.extra.get("get_ns", ())]
    if gets:
        vals["online.get_p50_us"] = percentile(gets, 0.50) / 1e3
        vals["online.get_p99_us"] = percentile(gets, 0.99) / 1e3
        vals["online.keys_written"] = statistics.mean(r.extra["keys_written"] for r in traced)
        vals["store.stored_bytes_ratio"] = statistics.mean(
            r.extra["stored_bytes_ratio"] for r in traced)
    return {k: (v, units[k]) for k, v in vals.items()}
