"""Common-subtree elimination demos (plans/cse.py), oracle-gated.

Reference parity: CommonSubtreeElimination.cpp dedups identical RelAlg
subtrees so a derived relation referenced twice is computed once.  Both
shapes here would otherwise scan + aggregate lineitem twice; the pass
persists the shared fragment and Spark's CacheManager substitutes it at
every occurrence (asserted, not assumed — the builders fail loudly if
detection regresses).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lingo_db_spark.catalog import load_table, register_views
from lingo_db_spark.plans.cse import (
    auto_persist_common_subtrees,
    sql_with_cte_cse,
)
from lingo_db_spark.queries import register, sorted_result

# Keep ONE live scope per query so the ContextCleaner doesn't unpersist
# fragments mid-collect; re-running the same query drains its previous
# scope first (unpersist + temp-view drop), so a long-lived session holds
# a bounded cache/namespace footprint instead of accumulating one scope
# per execution.
_SCOPES: dict[str, object] = {}


def _drain_scope(key: str) -> None:
    """Release the previous run's scope BEFORE building the new plan —
    draining after would unpersist the cache entry the new run's
    idempotent-persist check just decided to reuse."""
    old = _SCOPES.pop(key, None)
    if old is not None:
        old.unpersist_all()

_SELFJOIN_ORACLE = """
WITH per AS (
  SELECT l_suppkey,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
  FROM lineitem GROUP BY l_suppkey
)
SELECT p.l_suppkey, p.sum_qty
FROM per p,
     (SELECT CAST(SUM(sum_qty) AS BIGINT) AS s, COUNT(*) AS n FROM per) t
WHERE p.sum_qty * t.n > t.s
ORDER BY p.l_suppkey
"""


@register("cse_selfjoin_auto", _SELFJOIN_ORACLE)
def cse_selfjoin_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers with above-average shipped quantity, built so the
    per-supplier aggregate appears TWICE in the analyzed plan (as the
    probe side and inside the global-total branch).  The auto-CSE pass
    must find exactly one duplicated fragment and persist it; the
    threshold compare stays in exact integers (qty * n > total) so no
    float boundary can flip a row between engines."""
    _drain_scope("cse_selfjoin_auto")
    li = load_table(spark, sf_dir, "lineitem")
    per = li.groupBy("l_suppkey").agg(
        F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty")
    )
    tot = per.agg(
        F.sum("sum_qty").alias("s"), F.count(F.lit(1)).alias("n")
    )
    q = (
        per.join(tot)  # 1-row broadcast cross product
        .where(F.col("sum_qty") * F.col("n") > F.col("s"))
        .select("l_suppkey", "sum_qty")
    )
    scope = auto_persist_common_subtrees(q)
    assert len(scope.fragments) == 1, "CSE detection regressed"
    _SCOPES["cse_selfjoin_auto"] = scope
    return sorted_result(q, "l_suppkey")


_CTE_SQL = """
WITH yt AS (
  SELECT l_suppkey AS sk,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
  FROM lineitem GROUP BY l_suppkey
)
SELECT a.sk AS sk, a.qty AS qty_a, b.qty AS qty_b
FROM yt a JOIN yt b ON b.sk = a.sk + 1
ORDER BY a.sk
"""


@register("cse_cte_reused_auto", _CTE_SQL)
def cse_cte_reused_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """year_total-style reused CTE via the SQL-level CSE door: the WITH
    body is materialized once as a persisted temp view (the analyzed-plan
    pass cannot see this case — Spark only duplicates the CTE subtree at
    optimization time, after cache substitution).  Identical SQL text is
    the DuckDB oracle."""
    _drain_scope("cse_cte_reused_auto")
    register_views(spark, sf_dir, ("lineitem",))
    df, scope = sql_with_cte_cse(spark, _CTE_SQL)
    assert len(scope.fragments) == 1, "reused CTE not materialized"
    _SCOPES["cse_cte_reused_auto"] = scope
    return df


_CARDEST_ORACLE = """
SELECT o.o_orderpriority AS pri,
       COUNT(*) AS n_orders,
       COUNT(DISTINCT c.c_custkey) AS n_custs
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment = 'BUILDING'
GROUP BY pri ORDER BY pri
"""


@register("cardest_broadcast_probe", _CARDEST_ORACLE)
def cardest_broadcast_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampling-based cardinality estimation end-to-end — the last
    SURVEY §4.1 reference rewrite (QueryGraph.cpp:264-294
    estimateUsingSample): the dimension's post-predicate cardinality is
    estimated by evaluating the REAL predicate on a bounded seeded
    sample, and the broadcast hint is applied iff the estimated bytes
    fit the session threshold (plans/cardest.py).  The chosen strategy
    cannot change values — the oracle pins the result, and the
    BroadcastHashJoin plan shape is asserted in tests/test_cardest.py."""
    from lingo_db_spark.catalog import load_table
    from lingo_db_spark.plans.cardest import SampledTable

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    dim = SampledTable(cust).hint(F.col("c_mktsegment") == "BUILDING")
    return sorted_result(
        orders.join(dim, orders.o_custkey == dim.c_custkey)
        .groupBy(F.col("o_orderpriority").alias("pri"))
        .agg(F.count(F.lit(1)).alias("n_orders"),
             F.countDistinct("c_custkey").alias("n_custs")),
        "pri")
