"""Iterative dataflow helpers — the engine's analogue of the reference's
subop.loop (SubOperatorOps.td:937-953) and its k-means/PageRank
sub-operator programs (test/lit/SubOp/kmeans.mlir, pagerank.mlir):
driver-side iteration over DataFrames with periodic checkpointing to cut
lineage growth (SURVEY.md §7 hard-parts #6).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lingo_db_spark.operators.similarity import dot
from lingo_db_spark.session import local_frame


def iterate(df: DataFrame,
            step: Callable[[DataFrame, int], DataFrame],
            max_iters: int,
            until: Callable[[DataFrame, DataFrame], bool] | None = None,
            checkpoint_every: int = 5) -> DataFrame:
    """Run `step` up to max_iters times (subop.loop semantics: loop while
    condition, bounded).  localCheckpoint every `checkpoint_every` rounds
    truncates the lineage so plan size stays O(1) instead of O(iters) —
    without it, iteration 50 recompiles a 50-deep plan."""
    cur = df
    for i in range(max_iters):
        nxt = step(cur, i)
        if checkpoint_every and (i + 1) % checkpoint_every == 0:
            nxt = nxt.localCheckpoint(eager=True)
        if until is not None and until(cur, nxt):
            return nxt
        cur = nxt
    return cur


def kmeans(emb: DataFrame, k: int = 4, iters: int = 5,
           id_col: str = "vec_id", vec_col: str = "embedding",
           inertia_unit: int | None = None,
           centroid_unit: int | None = None) -> DataFrame:
    """Lloyd's k-means over an embedding column, the reference's
    kmeans.mlir capability re-expressed Spark-first.

    Per round: centroids live driver-side (k rows — the one legitimate
    collect), assignment is a broadcast of k centroid literals + min_by
    (no shuffle), centroid update is one partial-aggregated shuffle of
    k*dim cells.  Deterministic init: the k lowest-id vectors.

    Returns (cluster_id, n, inertia): cluster sizes and summed squared
    distance.  With `inertia_unit` the inertia column is instead
    `inertia_u` = SUM of per-row distances rounded to integer
    1/unit-ths BEFORE summation — each per-row distance is a
    deterministic fold over the vector (bit-identical on any engine
    doing f64 math in element order), so the integer sum is exact and
    independent of cross-row order, making the whole result
    hash-comparable against a SQL replay of the same Lloyd loop.

    `centroid_unit` applies the same order-free-integer trick to the
    CENTROID UPDATE: the plain F.avg is an unordered float sum whose
    summation order differs between Spark partial aggregation and a
    replaying engine's AVG, and a low-bit centroid difference can flip
    a near-tie argmin downstream.  With a unit, each coordinate is
    rounded to integer 1/unit-ths per row, summed exactly, and the mean
    is the fixed IEEE division sequence s / n / unit — bit-identical on
    any engine, so per-iteration inputs are exactly equal by
    construction (a power-of-two unit makes the /unit step lossless)."""
    base = emb.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    init = (base.orderBy("_id").limit(k).collect())
    centroids = [list(map(float, r._v)) for r in init]

    def _sqdist(vec, cent: list[float]):
        lit = F.array(*[F.lit(c) for c in cent])
        diff = F.zip_with(vec, lit, lambda a, b: (a - b) * (a - b))
        return F.aggregate(diff, F.lit(0.0), lambda acc, x: acc + x)

    def assign(df: DataFrame) -> DataFrame:
        pairs = F.array(*[
            F.struct(_sqdist(F.col("_v"), c).alias("d"),
                     F.lit(ci).alias("cid"))
            for ci, c in enumerate(centroids)])
        best = F.array_min(pairs)
        return df.withColumn("cid", best.getField("cid")) \
                 .withColumn("dist", best.getField("d"))

    for _ in range(iters):
        assigned = assign(base)
        # new centroid = elementwise mean: explode dims, partial-agg mean
        dims = assigned.select("cid", F.posexplode("_v").alias("pos", "x"))
        if centroid_unit is not None:
            # order-free exact form: integer per-row quantization, exact
            # integer sum, then the fixed division sequence s / n / unit
            new = (dims.groupBy("cid", "pos")
                   .agg(F.sum(F.round(F.col("x") * centroid_unit)
                              .cast("long")).alias("s"),
                        F.count(F.lit(1)).alias("cnt"))
                   .collect())
            byc: dict[int, dict[int, float]] = {}
            for r in new:
                byc.setdefault(r.cid, {})[r.pos] = (
                    float(r.s) / r.cnt / centroid_unit)
            for cid, d in byc.items():
                centroids[cid] = [d[p] for p in sorted(d)]
            continue
        new = (dims.groupBy("cid", "pos").agg(F.avg("x").alias("m"))
               .groupBy("cid")
               .agg(F.array_sort(F.collect_list(F.struct("pos", "m")))
                    .alias("pm"))
               .select("cid", F.transform("pm", lambda s: s.getField("m"))
                       .alias("c"))
               .collect())
        for r in new:
            centroids[r.cid] = list(map(float, r.c))

    final = assign(base)
    if inertia_unit is not None:
        inertia = F.sum(F.round(F.col("dist") * inertia_unit)
                        .cast("long")).alias("inertia_u")
    else:
        inertia = F.round(F.sum("dist"), 2).alias("inertia")
    return (final.groupBy("cid")
            .agg(F.count(F.lit(1)).alias("n"), inertia)
            .orderBy("cid"))


def pagerank(edges: DataFrame, iters: int = 10, damping: float = 0.85,
             src_col: str = "src", dst_col: str = "dst") -> DataFrame:
    """PageRank over an edge list — the reference's pagerank.mlir
    capability.  Rank updates are join+groupBy rounds under iterate()
    (checkpointed); dangling mass is redistributed uniformly.
    Returns (node, rank)."""
    nodes = (edges.select(F.col(src_col).alias("node"))
             .union(edges.select(F.col(dst_col).alias("node")))
             .distinct())
    n_nodes = nodes.count()
    out_deg = edges.groupBy(src_col).agg(F.count(F.lit(1)).alias("deg"))
    # nodes with no outgoing edge: their rank (dangling mass) is spread
    # uniformly each round so ranks keep summing to 1 on sink-bearing
    # graphs.  Id-only frame, one anti-join, computed once.
    dangling = nodes.join(
        edges.select(F.col(src_col).alias("node")).distinct(),
        "node", "left_anti")
    ranks0 = nodes.withColumn("rank", F.lit(1.0 / n_nodes))

    def step(ranks: DataFrame, _i: int) -> DataFrame:
        # per-round scalar: total rank sitting on dangling nodes.  A
        # single bounded agg (one double) — the same driver-side
        # convergence-scalar pattern iterate() already uses.
        d_mass = (ranks.join(dangling, "node")
                  .agg(F.sum("rank")).collect()[0][0]) or 0.0
        base = (1 - damping) / n_nodes + damping * d_mass / n_nodes
        contrib = (edges.join(ranks, edges[src_col] == ranks.node)
                   .join(out_deg, src_col)
                   .select(F.col(dst_col).alias("node"),
                           (F.col("rank") / F.col("deg")).alias("c")))
        summed = contrib.groupBy("node").agg(F.sum("c").alias("s"))
        return (nodes.join(summed, "node", "left")
                .select("node",
                        (F.lit(base)
                         + F.lit(damping) * F.coalesce("s", F.lit(0.0)))
                        .alias("rank")))

    return iterate(ranks0, step, iters, checkpoint_every=3)


def bfs_levels(edges: DataFrame, source, src_col: str = "src",
               dst_col: str = "dst", max_depth: int = 20) -> DataFrame:
    """Breadth-first search levels from a source node over a directed
    edge list — iterative frontier expansion (the subop.loop pattern,
    reference SubOperatorOps.td:937-953, like the kmeans/pagerank lit
    programs): each round joins the frontier to the edge list, anti-joins
    already-visited nodes, and stops when the frontier empties.
    Returns (node, level).  Each round is one shuffle join; visited/
    frontier are id-only frames and lineage is checkpoint-truncated, so
    depth-d BFS costs d bounded joins — no recursion in the plan."""
    from pyspark.sql import functions as F

    spark = edges.sparkSession
    visited = local_frame(spark, [(source, 0)], "node long, level int")
    frontier = visited.select("node")
    level = 0
    while level < max_depth:
        level += 1
        nxt = (edges.join(frontier.withColumnRenamed("node", src_col),
                          src_col)
               .select(F.col(dst_col).alias("node")).distinct()
               .join(visited.select("node"), "node", "left_anti")
               .localCheckpoint(eager=True))
        if nxt.isEmpty():
            break
        visited = visited.unionByName(
            nxt.withColumn("level", F.lit(level))).localCheckpoint(True)
        frontier = nxt
    return visited
