"""The benchmark's workloads: which registered queries each one runs, and
why it was chosen."""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]
    why: str
    python_udfs: bool = False     # set-up boots the Python worker pool


# LLM-data pipelines (L): the Arrow/Python UDF boundary, eager driver work
# inside builders (pipeline_neardup_clusters) and an at-rest index write
# (ann_topk_ivfpq_indexed).  SQL text in one session: catalog writes (W,
# DDL and COPY) listed between view-bound reads (V) that must still see
# the views register_views bound, and door reads (D) that take the parse
# shims, decorrelation retries and the EXISTS/IN rewrite.  The listed
# order interleaves the families, each write next to a view-bound read;
# passes shuffle it only locally (see worker.pass_order).
LLM_SQL = (
    "pipeline_dedup_exact",             # L
    "cb_top_groups",                    # V
    "sql_ddl_roundtrip",                # W
    "sql_tpch_q6",                      # D
    "pipeline_embed_neardup",           # L
    "ssb_q2_1",                         # V
    "sql_copy_csv_roundtrip",           # W
    "sql_corr_select_list",             # D
    "ann_topk_bruteforce",              # L
    "job_ten_way_min_chain",            # V
    "sql_ddl_script_journey",           # W
    "sql_corr_having_pin",              # D
    "pipeline_neardup_clusters",        # L
    "ds_double_exists_shared_cte",      # V
    "sql_copy_parquet_roundtrip",       # W
    "sql_corr_on_condition",            # D
    "text_quality_stats",               # L
    "ds_fullouter_cumulative_compare",  # V
    "sql_copy_orc_roundtrip",           # W
    "sql_corr_two_level",               # D
    "ann_topk_ivfpq_indexed",           # L
    "in_membership_priority_repeat",    # D
    "exists_join_syntax",               # D
)

WORKLOADS: dict[str, Workload] = {w.name: w for w in (
    Workload(
        "tpch",
        tuple(f"tpch_q{i}" for i in range(1, 23)),
        "22 short relational DataFrame queries bound by fixed overhead: "
        "driver build, functions helpers, Catalyst and jobs per query; "
        "no Python UDF, SQL door or write"),
    Workload(
        "llm_sql",
        LLM_SQL,
        "LLM-data pipelines (mapInPandas kernels, eager builder jobs, an "
        "index write) and SQL text through the door (shims, decorrelation, "
        "EXISTS/IN rewrite, DDL/COPY writes between view reads)",
        python_udfs=True),
)}
