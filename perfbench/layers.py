"""Per-layer metrics of a traced run (``--trace 1``).

Each execution record carries the counters ``tracing.py`` harvested for
it.  Additive counters are summed over the run and divided by the number
of measured passes, so every value is "per pass over the workload";
``*_frac`` and ``*_per_query`` values are ratios over the whole run, and
``session.build_ms`` / ``catalog.setup_register_views_ms`` are the run's
set-up.  ``traced.*`` repeats the end-to-end metrics as measured with
tracing on; minus the untraced run's values they give the tracing
overhead (``report.py``).  ``host.*`` is host-noise evidence.
"""

from __future__ import annotations

from collections import defaultdict

from perfbench import metrics

# name -> (unit, counter it sums); "busy.<layer>" counts a layer once even
# when it calls itself.
SUMS = {
    "catalog.register_views_ms": ("ms", "ms.catalog.register_views"),
    "catalog.load_table_ms": ("ms", "ms.catalog.load_table"),
    "catalog.load_table_calls": ("count", "calls.catalog.load_table"),
    "catalog.view_binds": ("count", "calls.spark.view"),
    "queries.build_ms": ("ms", "queries.build_ms"),
    "queries.build_jobs": ("count", "queries.build_jobs"),
    "functions.calls": ("count", "layercalls.functions"),
    "functions.ms": ("ms", "busy.functions"),
    "connection.sql_ms": ("ms", "ms.connection.Connection.sql"),
    "connection.sql_stmt_ms": ("ms", "ms.connection.Connection.sql_stmt"),
    "sqlrewrite.exists_to_aggregate_ms":
        ("ms", "ms.sqlrewrite.exists_to_aggregate"),
    "sqlrewrite.decorrelate_ms": ("ms", "ms.sqlrewrite.decorrelate_select_list"),
    "dialect.shim_ms": ("ms", "busy.dialect"),
    "sources.write_ms": ("ms", "ms.sources.write_table"),
    "sources.copy_from_csv_ms": ("ms", "ms.sources.copy_from_csv"),
    "ddl.parse_ms": ("ms", "busy.ddl"),
    "operators.ms": ("ms", "busy.operators"),
    "operators.jobs": ("count", "operators.jobs"),
    "pipeline.ms": ("ms", "busy.pipeline"),
    "pipeline.jobs": ("count", "pipeline.jobs"),
    "catalyst.analysis_ms": ("ms", "catalyst.analysis_ms"),
    "catalyst.optimization_ms": ("ms", "catalyst.optimization_ms"),
    "catalyst.planning_ms": ("ms", "catalyst.planning_ms"),
    "exec.jobs": ("count", "exec.jobs"),
    "exec.stages": ("count", "exec.stages"),
    "exec.tasks": ("count", "exec.tasks"),
    "exec.job_wall_ms": ("ms", "exec.job_wall_ms"),
    "exec.run_ms": ("ms", "exec.run_ms"),
    "exec.cpu_ms": ("ms", "exec.cpu_ms"),
    "exec.gc_ms": ("ms", "exec.gc_ms"),
    "exec.shuffle_read_bytes": ("bytes", "exec.shuffle_read_bytes"),
    "exec.shuffle_write_bytes": ("bytes", "exec.shuffle_write_bytes"),
    "exec.spill_bytes": ("bytes", "exec.spill_bytes"),
    "exec.input_bytes": ("bytes", "exec.input_bytes"),
    "exec.output_bytes": ("bytes", "exec.output_bytes"),
    "plan.exchanges": ("count", "plan.exchanges"),
    "plan.broadcasts": ("count", "plan.broadcasts"),
    "plan.python_nodes": ("count", "plan.python_nodes"),
    "broadcast.build_ms": ("ms", "broadcast.build_ms"),
    "broadcast.bytes": ("bytes", "broadcast.bytes"),
    "udf.python_ms": ("ms", "udf.python_ms"),
    "udf.boot_ms": ("ms", "udf.boot_ms"),
    "udf.bytes_sent": ("bytes", "udf.bytes_sent"),
    "udf.bytes_received": ("bytes", "udf.bytes_received"),
    "udf.rows_received": ("count", "udf.rows_received"),
    "driver.residual_ms": ("ms", "driver.residual_ms"),
    "trace.harvest_errors": ("count", "trace.harvest_errors"),
}
# Public engine functions the workloads call, timed one by one.
FUNCTION_MS = {
    "operators.ms.brute_force_topk": "operators.similarity.brute_force_topk",
    "operators.ms.embed_neardup": "operators.similarity.embed_neardup",
    "operators.ms.ivfpq_build": "operators.similarity.ivfpq_build",
    "operators.ms.ivfpq_topk": "operators.similarity.ivfpq_topk",
    "pipeline.ms.dedup_exact": "pipeline.dedup.dedup_exact",
    "pipeline.ms.neardup_minhash": "pipeline.dedup.neardup_minhash",
    "pipeline.ms.neardup_clusters": "pipeline.dedup.neardup_clusters",
    "pipeline.ms.quality_stats": "pipeline.text.quality_stats",
}
CONNECTION_SQL = "connection.Connection.sql"
REWRITES = ("sqlrewrite.exists_to_aggregate",
            "sqlrewrite.decorrelate_select_list")

UNITS = {
    "session.build_ms": "ms",
    "catalog.setup_register_views_ms": "ms",
    **{k: u for k, (u, _) in SUMS.items()},
    **{k: "ms" for k in FUNCTION_MS},
    "connection.sql_calls_per_query": "ratio",
    "connection.rewritten_frac": "ratio",
    "sqlrewrite.applied_frac": "ratio",
    **{f"traced.{k}": u for k, u in metrics.E2E_UNITS.items()},
    "host.steal_cores": "cores",
    "host.external_busy_cores": "cores",
}


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def per_layer(records: list[dict], summary: dict) -> dict[str, float]:
    tot: dict[str, float] = defaultdict(float)
    for r in records:
        for k, v in (r.get("layers") or {}).items():
            tot[k] += v
    passes = max(1, summary["passes"])
    setup = summary.get("setup_layers", {})
    out = {
        "session.build_ms": setup.get("ms.session.build_session", 0.0),
        "catalog.setup_register_views_ms":
            setup.get("ms.catalog.register_views", 0.0),
    }
    out.update({k: tot[src] / passes for k, (_, src) in SUMS.items()})
    out.update({k: tot[f"ms.{src}"] / passes for k, src in FUNCTION_MS.items()})
    sql_calls = tot[f"calls.{CONNECTION_SQL}"]
    out["connection.sql_calls_per_query"] = _ratio(
        tot["in_sql_door.spark.sql"], sql_calls)
    out["connection.rewritten_frac"] = _ratio(
        tot[f"rewritten.{CONNECTION_SQL}"], sql_calls)
    out["sqlrewrite.applied_frac"] = _ratio(
        sum(tot[f"applied.{n}"] for n in REWRITES),
        sum(tot[f"calls.{n}"] for n in REWRITES))
    out.update({f"traced.{k}": v for k, v in
                metrics.end_to_end(records, summary).items()})
    out.update({f"host.{k}": v for k, v in summary["host"].items()})
    return out
