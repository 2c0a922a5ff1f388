"""Similarity search over embedding columns (array<float>).

Four paths, per the standard ANN playbook:
- brute_force_topk: exact cosine top-k — the correctness baseline.  Cost
  O(n·q): fine when the query set is small (broadcast) or as the oracle
  for recall measurement; not the 100TB path.
- lsh_topk: random-hyperplane (sign) LSH — each vector lands in
  2^n_planes buckets per table; a query only scores vectors sharing a
  bucket in at least one of n_tables tables.  Candidates are
  O(n · collision_rate), no crossJoin anywhere in the plan.  Bits/tables
  trade recall vs candidate count: defaults are tuned for near-uniform
  vectors (the hard case); clustered real-world embeddings do much
  better at longer codes.
- ivf_topk: coarse k-means cells — the partition-pruned path (a probe
  reads n_probe/n_cells of the corpus when `cell` is a partition column).
- pq_topk / pq_encode: product quantization — the COMPRESSED-domain path
  (m-byte codes + ADC lookup-table scan + exact re-rank of the top
  candidates); orthogonal to the pruning paths and composable with them
  (IVF-PQ = encode within each cell's probe set).

Hot-path scoring is Arrow-batched numpy (cosine_batch — one matmul-style
pass per batch, never row-at-a-time Python); the JVM expression form
(cosine) stays available for composition inside pure-JVM plans.
"""

from __future__ import annotations

import os as _os

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (DoubleType, IntegerType, StructField,
                               StructType)

from lingo_db_spark.session import local_frame


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                              F.lit(0.0), lambda acc, x: acc + x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


_COSINE_UDF = None


def cosine_batch(a: Column, b: Column) -> Column:
    """Arrow-batched cosine for the hot scoring paths: one numpy pass per
    batch.  The zip_with/aggregate expression form (cosine above) is
    evaluated by Spark's *interpreted* expression path (higher-order
    lambdas are excluded from codegen) — fine in isolation, but in long
    multi-query sessions its call sites go megamorphic and throughput
    degrades several-fold (measured: 0.4s -> 1.8s on the same query after
    ~130 prior query executions).  The vectorized UDF's cost is one Arrow
    round-trip, invariant to JVM profile state."""
    global _COSINE_UDF
    if _COSINE_UDF is None:
        @F.pandas_udf("double")
        def _cos(xs: pd.Series, ys: pd.Series) -> pd.Series:
            if len(xs) == 0:
                return pd.Series([], dtype=float)
            A = np.stack(xs.to_numpy())
            B = np.stack(ys.to_numpy())
            num = (A * B).sum(axis=1)
            den = np.sqrt((A * A).sum(axis=1)) * np.sqrt((B * B).sum(axis=1))
            with np.errstate(invalid="ignore", divide="ignore"):
                out = np.where(den > 0, num / den, 0.0)
            return pd.Series(out)
        _COSINE_UDF = _cos
    return _COSINE_UDF(a, b)


_COSINE_UDF_1X = None


def cosine_batch_single_eval(a: Column, b: Column) -> Column:
    """cosine_batch, marked nondeterministic SOLELY to stop Catalyst
    duplicating the UDF when a filter on its output is pushed through
    the defining projection (r14 opt round, guide §4.1: embed_neardup's
    plan carried TWO ArrowEvalPython passes over the scored pairs — one
    materializing `cos`, one re-evaluating it inside the pushed-down
    `cos >= threshold`).  The function is pure per-row (same floats,
    same rows), so blocking the substitution changes plan shape only;
    use where a predicate consumes the score column directly."""
    global _COSINE_UDF_1X
    if _COSINE_UDF_1X is None:
        if _COSINE_UDF is None:
            cosine_batch(F.lit(None), F.lit(None))   # build the base UDF
        _COSINE_UDF_1X = _COSINE_UDF.asNondeterministic()
    return _COSINE_UDF_1X(a, b)


def _nondet(udf):
    """Mark a corpus-pass encoder UDF nondeterministic SOLELY to stop
    Catalyst duplicating it (r14 opt round, guide §4.4 — the
    cosine_batch_single_eval precedent): the IVF cell assignment and the
    IVF-PQ residual encoder each showed TWO full-corpus ArrowEvalPython
    passes in the executed plan, because a downstream predicate on the
    UDF-derived `cell` column (the probe pruning filter, or the
    join-inferred IS NOT NULL constraint) is pushed through the defining
    projection and re-evaluates the UDF under it.  The functions are
    pure per-row (same floats, same rows), so blocking the substitution
    changes plan shape only — one encode pass instead of two.
    LDB_ANN_ENC_DEDUP=off restores the unmarked form (A/B arm)."""
    if _os.environ.get("LDB_ANN_ENC_DEDUP", "nondet") == "off":
        return udf
    return udf.asNondeterministic()


_QUANT_UDF = None
_DEQUANT_UDF = None


def quantize_embeddings(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Scalar int8 quantization: per-vector (min, scale) + uint8 codes
    packed into a BINARY column — 4x less storage/shuffle than float32,
    the standard first step for billion-vector ANN corpora.  Codes round
    to the nearest of 256 levels across the vector's own range, so
    reconstruction error is bounded by scale/2 per dimension."""
    global _QUANT_UDF
    if _QUANT_UDF is None:
        @F.pandas_udf("struct<codes:binary,vmin:double,vscale:double>")
        def _q(vs: pd.Series) -> pd.DataFrame:
            out = {"codes": [], "vmin": [], "vscale": []}
            for v in vs:
                a = np.asarray(v, dtype=np.float64)
                mn, mx = float(a.min()), float(a.max())
                scale = (mx - mn) / 255.0 or 1.0
                # floor(x + 0.5) = round-half-AWAY on the non-negative
                # domain — np.round's half-to-even has no stable SQL
                # rendering, this form replays exactly as floor(x + 0.5)
                # in the DuckDB oracle (ann_topk_quantized).
                codes = np.floor((a - mn) / scale + 0.5).astype(np.uint8)
                out["codes"].append(codes.tobytes())
                out["vmin"].append(mn)
                out["vscale"].append(scale)
            return pd.DataFrame(out)
        _QUANT_UDF = _q
    return df.withColumn("__q", _QUANT_UDF(F.col(vec_col))).select(
        *[c for c in df.columns if c != vec_col],
        F.col("__q.codes").alias("codes"),
        F.col("__q.vmin").alias("vmin"),
        F.col("__q.vscale").alias("vscale"))


def dequantize_embeddings(df: DataFrame,
                          out_col: str = "embedding") -> DataFrame:
    """Inverse of quantize_embeddings: codes -> array<double>."""
    global _DEQUANT_UDF
    if _DEQUANT_UDF is None:
        @F.pandas_udf("array<double>")
        def _dq(codes: pd.Series, vmin: pd.Series,
                vscale: pd.Series) -> pd.Series:
            return pd.Series([
                (np.frombuffer(c, dtype=np.uint8).astype(np.float64)
                 * s + m).tolist()
                for c, m, s in zip(codes, vmin, vscale)])
        _DEQUANT_UDF = _dq
    return (df.withColumn(out_col, _DEQUANT_UDF("codes", "vmin", "vscale"))
            .drop("codes", "vmin", "vscale"))


_CUT_FANIN = 64
_CUT_FANIN_GATE = 32


def _two_level_cut(df: DataFrame, q_col: str, id_col: str,
                   score_col: str, limit: int) -> DataFrame:
    """EXACT distributed per-query top-`limit` with BOUNDED reducer
    depth.  Three cascaded cuts, each keeping every global top-limit
    member (a global top-limit row is necessarily in its group's
    top-limit at every level, so nothing exact is ever lost):

    1. per (query, input-partition): group size <= partition row count,
       never the corpus — the level a single Window.partitionBy(q)
       would lack;
    2. per (query, input-partition mod _CUT_FANIN): folds the
       n_partitions x limit survivors so the NEXT level's group is
       bounded by _CUT_FANIN x limit INDEPENDENT of input partition
       count.  Without it, 100 TB scans (~1e5 input partitions) with
       rerank=1024 would hand the final reducer ~1e8 rows per query;
       with it the bound is ~65k.  Group size here is
       (n_partitions / _CUT_FANIN) x limit — still partition-count-
       divided, and the level costs one shuffle of already-cut rows
       (n_partitions x limit per query, ids + score only);
    3. per query: ranks <= _CUT_FANIN x limit rows.

    The fold level is GATED on limit > _CUT_FANIN_GATE: for small
    limits (the k~10 final top-k) the unfolded bound n_partitions x
    limit stays reducer-survivable even at 1e5 input partitions
    (~1e6 skinny rows per query), and the extra window measurably
    costs ~0.3-0.5 s per query at bench scale for nothing (r11 A/B,
    SCALE.md); for the rerank-sized cuts (64-1024) where the blow-up
    actually lives, the fold is on.  Deterministic tie-break on id.
    Returns the survivors with their global rank in `__rank`.  The
    fan-in is static (no df.rdd.getNumPartitions() probe: under AQE
    that materializes query stages, turning a lazy builder into an
    eager execution).

    r14 (opt round): level 1 is a PARTITION-LOCAL Arrow cut
    (mapInPandas), not a Window over (q, spark_partition_id()) — the
    survivors are identical (same per-(query, input-partition)
    top-limit, same tie-break), but the window form hash-SHUFFLED the
    entire scored corpus to sort it, the only corpus-sized exchange in
    the ANN read path; the local form cuts each partition in place and
    only the <= n_partitions x limit survivors ever reach an exchange
    (interleaved A/B in OPTIMIZATION_r14.md).  Memory bound: each
    batch is cut to limit-per-query before accumulating, so the local
    cut holds <= n_batches x limit x n_queries skinny rows, never the
    partition.  The hot scoring paths go one step further and fuse the
    scoring itself into the same pass (_fused_cosine_topk /
    _fused_adc_topk below) so scored rows never round-trip through the
    JVM at all; this function remains the generic cut for pre-scored
    frames.  LDB_ANN_CUT=window restores the pre-r14 windowed level 1
    (A/B control arm / escape hatch)."""
    order = (F.desc(score_col), F.asc(id_col))
    if _os.environ.get("LDB_ANN_CUT", "fused") == "window":
        part = df.withColumn("__p", F.spark_partition_id())
        w1 = Window.partitionBy(q_col, "__p").orderBy(*order)
        l2 = (part.withColumn("__r", F.row_number().over(w1))
              .filter(F.col("__r") <= limit).drop("__r", "__p"))
    else:
        schema = df.schema
        cols = [f.name for f in schema.fields]

        def _local_cut(batches):
            acc = [_pd_topk(b, q_col, id_col, score_col, limit)[cols]
                   for b in batches if len(b)]
            if not acc:
                return
            allb = pd.concat(acc) if len(acc) > 1 else acc[0]
            yield _pd_topk(allb, q_col, id_col, score_col, limit)

        l2 = df.mapInPandas(_local_cut, schema)
    return _fold_rank_tail(l2, q_col, id_col, score_col, limit)


def _pd_topk(b: pd.DataFrame, q_col: str, id_col: str, score_col: str,
             limit: int) -> pd.DataFrame:
    """Pandas top-limit per q: (q asc, score desc, id asc) mergesort —
    stable, reproducing the window row_number order exactly, so
    head(limit) keeps the same survivor rows the windowed form kept."""
    b = b.sort_values([q_col, score_col, id_col],
                      ascending=[True, False, True], kind="mergesort")
    return b.groupby(q_col, sort=False).head(limit)


def _fold_rank_tail(l2: DataFrame, q_col: str, id_col: str,
                    score_col: str, limit: int) -> DataFrame:
    """Levels 2+3 of the cut over already-level-1-cut survivors: the
    gated fold window (bounding the final reducer independent of input
    partition count — grouped by a deterministic fold of the ID hash,
    schedule-independent) and the final per-query rank."""
    order = (F.desc(score_col), F.asc(id_col))
    if limit > _CUT_FANIN_GATE:
        w2 = Window.partitionBy(
            q_col, F.pmod(F.xxhash64(F.col(id_col)),
                          F.lit(_CUT_FANIN))).orderBy(*order)
        l2 = (l2.withColumn("__r", F.row_number().over(w2))
              .filter(F.col("__r") <= limit).drop("__r"))
    w = Window.partitionBy(q_col).orderBy(*order)
    return (l2.withColumn("__rank", F.row_number().over(w))
            .filter(F.col("__rank") <= limit))


def _cosine_np(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """The cosine_batch arithmetic, shared so the fused path produces
    BIT-IDENTICAL doubles to the expression path (the rescore_exact
    invariant compares them with strict float equality)."""
    num = (A * B).sum(axis=1)
    den = np.sqrt((A * A).sum(axis=1)) * np.sqrt((B * B).sum(axis=1))
    with np.errstate(invalid="ignore", divide="ignore"):
        return np.where(den > 0, num / den, 0.0)


def _fused_cosine_topk(joined: DataFrame, q_col: str, id_col: str,
                       vec_col: str, q_vec_col: str, k: int) -> DataFrame:
    """Fused score+cut for the cosine paths (guide §4: one Python pass,
    skinny rows out): scores each (vec, q_vec) batch with the
    cosine_batch arithmetic and keeps the running per-(partition,
    query) top-k in the SAME mapInPandas — the corpus-sized scored
    rows never return to the JVM (<= n_batches x k x n_queries
    survivors per partition do), where the unfused form materialized
    every scored row JVM-side and then shuffled it into the cut
    window.  Survivors then ride the shared fold/rank tail, so the
    result is row-identical to cosine_batch + _two_level_cut (same
    float math, same tie-breaks)."""
    schema = StructType([joined.schema[q_col], joined.schema[id_col],
                         StructField("cos", DoubleType(), False)])

    def run(batches):
        acc = []
        for b in batches:
            if not len(b):
                continue
            cos = _cosine_np(np.stack(b[vec_col].to_numpy()),
                             np.stack(b[q_vec_col].to_numpy()))
            sb = pd.DataFrame({q_col: b[q_col].to_numpy(),
                               id_col: b[id_col].to_numpy(), "cos": cos})
            acc.append(_pd_topk(sb, q_col, id_col, "cos", k))
        if not acc:
            return
        allb = pd.concat(acc) if len(acc) > 1 else acc[0]
        yield _pd_topk(allb, q_col, id_col, "cos", k)

    cut = (joined.select(q_col, id_col, vec_col, q_vec_col)
           .mapInPandas(run, schema))
    return (_fold_rank_tail(cut, q_col, id_col, "cos", k)
            .withColumn("rank", F.col("__rank").cast("long"))
            .drop("__rank"))


def _np_id_dtype(field: StructField):
    """Numpy dtype for an integral Spark field (Arrow conversion needs
    the exact width); None for non-integral id/query-id columns, which
    then ride as object series of the original Python values."""
    from pyspark.sql.types import IntegerType as _It, LongType as _Lt
    if isinstance(field.dataType, _Lt):
        return np.int64
    if isinstance(field.dataType, _It):
        return np.int32
    return None


def _fused_cosine_topk_local(emb: DataFrame, qrows: list, q_field,
                             id_col: str, vec_col: str,
                             k: int) -> DataFrame:
    """Query-LOCAL fused score+cut (r14 opt round, guide §3.1/§4.2):
    the bounded query set rides INTO the Arrow kernel as a closure
    constant instead of being broadcast-cross-joined against the
    corpus.  The joined form shipped every corpus vector through the
    Python boundary once PER QUERY (n x q Arrow rows plus a
    BroadcastExchange job per call); here the scan streams each vector
    ONCE and the kernel scores it against all q queries in numpy.

    Bit-identical to the joined _fused_cosine_topk: the kernel calls
    the SAME _cosine_np on the same dtypes (each query row is
    broadcast to the batch's shape IN THE VECTOR COLUMN'S dtype — the
    joined form's q_vec column had that dtype too, and the collected
    Python floats round-trip exactly back to it), and the level-1 cut
    is exact per (partition, query) regardless of batch boundaries —
    so the survivor sets, and with them the fold/rank tail, are
    row-identical and the rescore_exact strict-equality invariant is
    preserved."""
    qids = [r[0] for r in qrows]
    qvecs = [r[1] for r in qrows]
    nq = len(qids)
    q_col = q_field.name
    qdt = _np_id_dtype(q_field)
    schema = StructType([q_field, emb.schema[id_col],
                         StructField("cos", DoubleType(), False)])

    def run(batches):
        acc = []
        Qm = None
        for b in batches:
            if not len(b):
                continue
            V = np.stack(b[vec_col].to_numpy())
            if Qm is None:
                Qm = np.stack([np.asarray(q, dtype=V.dtype)
                               for q in qvecs])
            ids = b[id_col].to_numpy()
            parts = []
            for qi in range(nq):
                cos = _cosine_np(V, np.broadcast_to(Qm[qi], V.shape))
                qv = (np.full(len(ids), qids[qi], dtype=qdt)
                      if qdt is not None else
                      pd.Series([qids[qi]] * len(ids), dtype=object))
                parts.append(pd.DataFrame(
                    {q_col: qv, id_col: ids, "cos": cos}))
            sb = pd.concat(parts) if len(parts) > 1 else parts[0]
            acc.append(_pd_topk(sb, q_col, id_col, "cos", k))
        if not acc:
            return
        allb = pd.concat(acc) if len(acc) > 1 else acc[0]
        yield _pd_topk(allb, q_col, id_col, "cos", k)

    cut = emb.select(id_col, vec_col).mapInPandas(run, schema)
    return (_fold_rank_tail(cut, q_col, id_col, "cos", k)
            .withColumn("rank", F.col("__rank").cast("long"))
            .drop("__rank"))


def _topk_per_query(scored: DataFrame, q_col: str, id_col: str,
                    k: int) -> DataFrame:
    """Final exact top-k over (q, id, cos) rows via _two_level_cut,
    presented with the public `rank` column."""
    return (_two_level_cut(scored, q_col, id_col, "cos", k)
            .withColumn("rank", F.col("__rank").cast("long"))
            .drop("__rank"))


MAX_QUERY_ROWS = 4096


def _collect_queries(queries: DataFrame, q_id_col: str, q_vec_col: str,
                     max_queries: int | None = None) -> list:
    """Driver-collect the bounded query set (the LUT/broadcast-build
    contract shared by the PQ paths).  Collects at most max_queries + 1
    rows and fails FAST when the frame exceeds the cap — the LUT is
    O(n_queries x m x n_codes) driver/executor memory, so an unbounded
    queries frame must be an error, not an OOM."""
    if max_queries is None:
        max_queries = MAX_QUERY_ROWS      # read at call time: tunable
    rows = (queries.select(q_id_col, q_vec_col)
            .limit(max_queries + 1).collect())
    if len(rows) > max_queries:
        raise ValueError(
            f"query set exceeds the bounded-query-set contract "
            f"(max_queries={max_queries}): the per-query ADC lookup "
            "tables ship driver-side — batch the queries instead")
    return rows


def brute_force_topk(emb: DataFrame, queries: DataFrame, k: int = 10,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     q_id_col: str = "q_id", q_vec_col: str = "q_vec",
                     ) -> DataFrame:
    """Exact top-k: broadcast the (small) query set against every vector.
    Returns (q_id, vec_id, cos, rank) with deterministic tie-break on
    vec_id.  Scoring and the level-1 cut are FUSED in one Arrow pass
    (_fused_cosine_topk) so only per-partition survivors reach the JVM;
    the fold/rank tail bounds the reduce side even though the scan is
    the full corpus."""
    if (_os.environ.get("LDB_ANN_CUT", "fused") == "fused"
            and _os.environ.get("LDB_ANN_QPLAN", "local") == "local"):
        try:
            qrows = _collect_queries(queries, q_id_col, q_vec_col)
        except ValueError:
            qrows = None          # oversized query set: join path below
        if qrows:                 # empty set: join path returns empty
            return _fused_cosine_topk_local(
                emb, qrows, queries.schema[q_id_col], id_col, vec_col, k)
    joined = emb.join(F.broadcast(queries))
    if _os.environ.get("LDB_ANN_CUT", "fused") != "fused":
        scored = joined.select(
            F.col(q_id_col), F.col(id_col),
            cosine_batch(F.col(vec_col), F.col(q_vec_col)).alias("cos"))
        return _topk_per_query(scored, q_id_col, id_col, k)
    return _fused_cosine_topk(joined, q_id_col, id_col, vec_col,
                              q_vec_col, k)


def _hyperplanes(dim: int, n_planes: int, n_tables: int, seed: int = 42):
    """Deterministic random hyperplanes, table-major: [table][plane][dim]."""
    rng = np.random.RandomState(seed)
    return rng.normal(size=(n_tables, n_planes, dim)).astype(float)


def _bucket_udf(planes):
    """Vectorized bucket computation: all tables' sign bits in ONE numpy
    matmul per Arrow batch (V @ P.T > 0), packed to per-table bucket ids.
    A JVM expression tree of n_tables*n_planes separate dot-product
    aggregates defeats codegen; the matmul is the batch-friendly form."""
    flat = np.concatenate(planes, axis=0)          # (T*B, dim)
    n_tables, n_planes = planes.shape[0], planes.shape[1]
    weights = (1 << np.arange(n_planes, dtype=np.int64))

    @F.pandas_udf("array<long>")
    def _buckets(vecs: pd.Series) -> pd.Series:
        v = np.stack(vecs.to_numpy())              # (rows, dim)
        bits = (v @ flat.T) > 0                    # (rows, T*B)
        bits = bits.reshape(len(v), n_tables, n_planes)
        ids = (bits * weights).sum(axis=2)         # (rows, T)
        return pd.Series(list(ids))

    return _buckets


def lsh_buckets(df: DataFrame, vec_col: str, dim: int,
                n_planes: int = 4, n_tables: int = 16,
                seed: int = 42) -> DataFrame:
    """Append (table_id, bucket) rows: one output row per input row per
    table.  Downstream joins on (table_id, bucket) touch only colliding
    vectors."""
    planes = _hyperplanes(dim, n_planes, n_tables, seed)
    buckets = _bucket_udf(planes)(F.col(vec_col))
    return (df.select("*", F.posexplode(buckets).alias("table_id", "bucket")))


def embed_neardup(df: DataFrame, *, dim: int, threshold: float = 0.99,
                  id_col: str = "vec_id", vec_col: str = "embedding",
                  n_planes: int = 12, n_tables: int = 16,
                  max_bucket_size: int | None = 10_000,
                  seed: int = 42) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, cos) for every
    pair with cosine >= threshold, id_a < id_b.

    Candidates come ONLY from LSH bucket collisions (self-join on
    (table_id, bucket)) — no crossJoin; exact cosine re-scores candidates,
    so precision is exact and recall for a true pair at cosine c is
    1-(1-p^n_planes)^n_tables with p = 1-arccos(c)/pi (≈1-1.4e-8 at
    c=0.995 with the defaults).  Codes are LONG (12 bits) because this is
    a high-threshold operator: a random near-orthogonal pair collides per
    table with prob ~0.5^n_planes, so 12-bit codes cut false candidates
    ~300x vs 4-bit at near-zero recall cost — the candidate set, not the
    bucketing pass, dominates at scale.

    The candidate self-join carries ONLY ids: pairs are deduped as skinny
    (id_a, id_b) rows and the vectors are re-joined afterwards for the
    exact re-score — never shuffled through the pair-dedup.
    max_bucket_size drops degenerate buckets (all-equal vectors) that
    would blow up quadratically — the same skew guard as MinHash LSH."""
    ids = df.select(id_col, vec_col)
    b = (lsh_buckets(ids, vec_col, dim, n_planes, n_tables, seed)
         .select(id_col, "table_id", "bucket"))
    if max_bucket_size is not None:
        # Skew guard as a WINDOW count over (table_id, bucket) (r14 opt
        # round, guide §2.3/§4.2): the one hash shuffle both computes
        # the counts AND leaves the stream partitioned exactly as the
        # candidate self-join needs it, so the a/c branches below REUSE
        # a single bucketize pass (ArrowEvalPython) + exchange — the
        # prior groupBy+broadcast-join guard replayed the scan +
        # hyperplane UDF under the counts branch AND under each join
        # side (3 Python passes over every vector; 12 ArrowEvalPython /
        # 24 scans in the bench plan).  Kept rows are identical (count
        # per bucket <= max either way).  The bounded-bucket-space
        # broadcast argument only ever justified the side-table's
        # size, not the triple recompute; at corpus scale the self-join
        # shuffles both sides anyway, so one reused exchange is
        # strictly fewer passes.  LDB_EMBED_GUARD=agg keeps the old
        # form (A/B arm).
        if _os.environ.get("LDB_EMBED_GUARD", "window") == "agg":
            counts = (b.groupBy("table_id", "bucket")
                      .agg(F.count(F.lit(1)).alias("__bc"))
                      .filter(F.col("__bc") <= max_bucket_size)
                      .drop("__bc"))
            b = b.join(F.broadcast(counts), ["table_id", "bucket"])
        else:
            wcnt = Window.partitionBy("table_id", "bucket")
            b = (b.withColumn("__bc", F.count(F.lit(1)).over(wcnt))
                 .filter(F.col("__bc") <= max_bucket_size).drop("__bc"))
    a = b.select(F.col(id_col).alias("id_a"), "table_id", "bucket")
    c = b.select(F.col(id_col).alias("id_b"), "table_id", "bucket")
    pairs = (a.join(c, ["table_id", "bucket"])
             .filter(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b")
             .dropDuplicates(["id_a", "id_b"]))
    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"))
    return (pairs.join(va, "id_a").join(vb, "id_b")
            .select("id_a", "id_b",
                    cosine_batch_single_eval(
                        F.col("__va"), F.col("__vb")).alias("cos"))
            .filter(F.col("cos") >= threshold))


def _kmeanspp_init(X: np.ndarray, n_cells: int,
                   rng: np.random.RandomState) -> np.ndarray:
    """k-means++ seeding (Arthur & Vassilvitskii, SODA'07): each next
    center is drawn with probability proportional to its squared
    distance from the nearest already-chosen center.  Deterministic
    under the caller's seeded RNG.  Replaces uniform init, whose
    centroid starvation at high cell counts the 1M-vector probe hit
    (SCALE.md: the 64 x n_cells sample-sizing rule treated the symptom;
    this treats the cause — spread seeds can't collapse into one dense
    cluster)."""
    n = len(X)
    k = min(n_cells, n)
    chosen = np.empty((k, X.shape[1]), dtype=X.dtype)
    chosen[0] = X[rng.randint(n)]
    d2 = ((X - chosen[0]) ** 2).sum(axis=1)
    for i in range(1, k):
        total = d2.sum()
        if total <= 0:          # all points coincide with a center
            chosen[i:] = chosen[0]
            break
        chosen[i] = X[rng.choice(n, p=d2 / total)]
        d2 = np.minimum(d2, ((X - chosen[i]) ** 2).sum(axis=1))
    return chosen.copy()


def _lloyd_train(X: np.ndarray, n_cells: int, iters: int = 10,
                 seed: int = 42) -> np.ndarray:
    """Driver-side Lloyd iterations over a (small) training sample — the
    standard IVF coarse-quantizer training step.  Deterministic
    (seeded k-means++ init, fixed iteration count)."""
    rng = np.random.RandomState(seed)
    cents = _kmeanspp_init(X, n_cells, rng)
    for _ in range(iters):
        # argmin ||x-c||^2 == argmax (x.c - |c|^2/2): one (n, cells)
        # matmul instead of materializing the (n, cells, dim) difference
        # tensor, which at 16k samples x 256 cells x 64 dims is 2 GB/iter.
        assign = (X @ cents.T
                  - 0.5 * (cents * cents).sum(axis=1)).argmax(axis=1)
        for ci in range(len(cents)):
            members = X[assign == ci]
            if len(members):
                cents[ci] = members.mean(axis=0)
    return cents


def _cell_udf(cents: np.ndarray, n_probe: int = 1):
    """Vectorized nearest-cell assignment: argmin ||v-c||^2 over the
    centroid matrix via one matmul per Arrow batch.  Returns the n_probe
    nearest cell ids (n_probe=1 for base vectors, >1 for query probing)."""
    C = cents.astype(float)
    half_norms = 0.5 * (C * C).sum(axis=1)

    @F.pandas_udf("array<int>")
    def _cells(vecs: pd.Series) -> pd.Series:
        v = np.stack(vecs.to_numpy())
        score = v @ C.T - half_norms          # argmax score == argmin dist
        order = np.argsort(-score, axis=1)[:, :n_probe].astype(np.int32)
        return pd.Series(list(order))

    return _cells


def ivf_build(emb: DataFrame, *, dim: int, n_cells: int = 16,
              train_sample: int = 2048,
              id_col: str = "vec_id", vec_col: str = "embedding",
              seed: int = 42) -> tuple[np.ndarray, DataFrame]:
    """Build the IVF-Flat index: (coarse centroids, (id, vec, cell)
    DataFrame).  Written ``partitionBy("cell")`` the frame IS the
    reorganized corpus — a probe's candidate fetch is partition-pruned
    I/O.  Training is O(train_sample) driver-side Lloyd on an
    xxhash64(id)-ordered sample (see pq_encode's docstring)."""
    sample = (emb.select(vec_col).orderBy(F.xxhash64(F.col(id_col)))
              .limit(train_sample).collect())
    X = np.stack([np.asarray(r[0], dtype=float) for r in sample])
    cents = _lloyd_train(X, n_cells, seed=seed)
    return cents, ivf_append(cents, emb, id_col=id_col, vec_col=vec_col)


def ivf_topk(emb: DataFrame, queries: DataFrame, k: int = 10, *,
             dim: int, n_cells: int = 16, n_probe: int = 4,
             train_sample: int = 2048,
             id_col: str = "vec_id", vec_col: str = "embedding",
             q_id_col: str = "q_id", q_vec_col: str = "q_vec",
             seed: int = 42,
             index: tuple[np.ndarray, DataFrame] | None = None
             ) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the clustered alternative
    to lsh_topk: a coarse k-means quantizer (trained driver-side on a
    deterministic sample, the standard IVF recipe) partitions vectors into
    n_cells lists; each query probes only its n_probe nearest cells and
    exact cosine re-ranks the candidates.  n_probe = n_cells degenerates
    to exact search (useful for verification).  At scale the cell id is a
    partitioning column: candidate fetch is partition-pruned I/O, and the
    training sample stays O(train_sample) regardless of corpus size.

    Build-once/query-many: pass ``index=(centroids, base_df)`` from a
    prior ``ivf_build`` (the frame read back from its cell-partitioned
    parquet) to skip the per-call train+assign — the deployment shape."""
    cents, base = index if index is not None else ivf_build(
        emb, dim=dim, n_cells=n_cells, train_sample=train_sample,
        id_col=id_col, vec_col=vec_col, seed=seed)
    n_probe = min(n_probe, cents.shape[0])   # index shape, not kwargs
    if (index is None and _build_fused()
            and _os.environ.get("LDB_ANN_CUT", "fused") == "fused"
            and _os.environ.get("LDB_ANN_QPLAN", "local") == "local"):
        # Fused assign+probe+score (continuation 3): the cell UDF pass
        # and the probe join (which expanded every vector ~n_probe x
        # n_queries / n_cells times through Arrow) collapse into one
        # kernel.  Probe routing is computed driver-side with the
        # SAME float ops _cell_udf runs (query vectors restored to
        # their Arrow element dtype, so the matmul sees identical
        # inputs); the in-kernel assignment replicates
        # _cell_udf(cents, 1) exactly (argsort, not argmax, for
        # bit-identical tie behavior).
        try:
            qrows = _collect_queries(queries, q_id_col, q_vec_col)
        except ValueError:
            qrows = None          # oversized query set: join path below
        if qrows:
            qdtype = _np_elem_dtype(queries.schema[q_vec_col])
            Vq = np.stack([np.asarray(r[1], dtype=qdtype)
                           for r in qrows])
            Cc = cents.astype(float)
            half = 0.5 * (Cc * Cc).sum(axis=1)
            order = np.argsort(-(Vq @ Cc.T - half), axis=1)[:, :n_probe]
            route = np.zeros((cents.shape[0], len(qrows)), dtype=bool)
            for qi in range(len(qrows)):
                route[order[qi], qi] = True

            def pair_mask(V, _route=route, _C=Cc, _h=half):
                cells = np.argsort(-(V @ _C.T - _h), axis=1)[:, :1][:, 0]
                return _route[cells]

            return _fused_cosine_route_topk(
                emb, qrows, queries.schema[q_id_col], id_col, vec_col,
                k, pair_mask)
    probes = queries.select(
        q_id_col, q_vec_col,
        F.explode(_cell_udf(cents, n_probe)(F.col(q_vec_col))).alias("cell"))
    cands = base.join(F.broadcast(probes), "cell")
    if _os.environ.get("LDB_ANN_CUT", "fused") != "fused":
        scored = cands.select(
            F.col(q_id_col), F.col(id_col),
            cosine_batch(F.col(vec_col), F.col(q_vec_col)).alias("cos"))
        return _topk_per_query(scored, q_id_col, id_col, k)
    return _fused_cosine_topk(cands, q_id_col, id_col, vec_col,
                              q_vec_col, k)


def lsh_build(emb: DataFrame, *, dim: int, n_planes: int = 4,
              n_tables: int = 16, id_col: str = "vec_id",
              vec_col: str = "embedding", seed: int = 42,
              ) -> tuple[dict, DataFrame]:
    """Build the LSH index: (params, (id, table_id, bucket) DataFrame).
    The params dict records the hyperplane geometry (dim, n_planes,
    n_tables, seed) that PRODUCED the buckets — persist it alongside
    the parquet (e.g. a params.json next to the index directory), and
    pass the tuple back as ``lsh_topk(index=...)``: a query bucketed
    with different planes joins against semantically unrelated buckets
    and recall silently collapses, so the mismatch must be DETECTED
    (lsh_topk raises on it), not documented."""
    params = {"dim": dim, "n_planes": n_planes, "n_tables": n_tables,
              "seed": seed}
    buckets = (lsh_buckets(emb.select(id_col, vec_col), vec_col, dim,
                           n_planes, n_tables, seed)
               .select(id_col, "table_id", "bucket"))
    return params, buckets


def lsh_topk(emb: DataFrame, queries: DataFrame, k: int = 10, *,
             dim: int, n_planes: int = 4, n_tables: int = 16,
             id_col: str = "vec_id", vec_col: str = "embedding",
             q_id_col: str = "q_id", q_vec_col: str = "q_vec",
             seed: int = 42,
             index: tuple[dict, DataFrame] | DataFrame | None = None,
             ) -> DataFrame:
    """Approximate top-k: bucket both sides with the same hyperplanes,
    equi-join on (table_id, bucket), dedupe candidates, exact cosine
    re-rank.  Expected recall for a neighbor at angle θ is
    1-(1-p^n_planes)^n_tables with p = 1-θ/π.

    The candidate join and dedup carry IDS ONLY (the embed_neardup
    pattern): the bucketing pass explodes n_tables rows per vector, so
    shuffling the vector column through it would move n_tables copies
    of every embedding; instead the deduped (q_id, id) pairs re-join
    the single-copy vector table and broadcast-join the query
    vectors.

    Build-once/query-many: pass ``index=`` a prior ``lsh_build``
    result ((params, buckets) — the buckets e.g. read back from parquet
    bucketed on (table_id, bucket)) to skip the per-call corpus
    bucketing — the deployment shape; query-side bucketing is
    per-batch-sized and always recomputed.  The params are VALIDATED
    against this call's hyperplane geometry: an index built with a
    different seed/planes would silently join unrelated buckets, so a
    mismatch raises.  A bare DataFrame index (the pre-r11 form) is
    still accepted but carries no detectable geometry — prefer the
    tuple."""
    if index is None:
        e_b = (lsh_buckets(emb.select(id_col, vec_col), vec_col, dim,
                           n_planes, n_tables, seed)
               .select(id_col, "table_id", "bucket"))
    else:
        if isinstance(index, tuple):
            params, e_b = index
            want = {"dim": dim, "n_planes": n_planes,
                    "n_tables": n_tables, "seed": seed}
            if params != want:
                raise ValueError(
                    f"LSH index geometry {params} != query geometry "
                    f"{want}: buckets from different hyperplanes are "
                    "semantically unrelated — rebuild the index or "
                    "match the knobs")
        else:
            e_b = index
        e_b = e_b.select(id_col, "table_id", "bucket")
    if (index is None and _build_fused()
            and _os.environ.get("LDB_ANN_CUT", "fused") == "fused"
            and _os.environ.get("LDB_ANN_QPLAN", "local") == "local"):
        # Fused bucketize+collide+score (continuation 3): the corpus
        # bucketize pass, the collision join (which shipped ~n_collision
        # copies of every candidate vector through Arrow), the
        # corpus-sized dropDuplicates exchange, and the two re-attach
        # joins collapse into one kernel.  Query buckets are computed
        # driver-side with _bucket_udf's exact float ops (query vectors
        # restored to their Arrow element dtype); a (vector, query)
        # pair is a candidate iff ANY table bucket matches — the same
        # set the join+dedup produced.
        try:
            qrows = _collect_queries(queries, q_id_col, q_vec_col)
        except ValueError:
            qrows = None          # oversized query set: join path below
        if qrows:
            planes = _hyperplanes(dim, n_planes, n_tables, seed)
            flat = np.concatenate(planes, axis=0)
            weights = (1 << np.arange(n_planes, dtype=np.int64))
            qdtype = _np_elem_dtype(queries.schema[q_vec_col])
            Vq = np.stack([np.asarray(r[1], dtype=qdtype)
                           for r in qrows])
            qbits = ((Vq @ flat.T) > 0).reshape(len(qrows), n_tables,
                                                n_planes)
            QB = (qbits * weights).sum(axis=2)          # (nq, T)

            def pair_mask(V, _flat=flat, _w=weights, _QB=QB):
                bits = ((V @ _flat.T) > 0).reshape(len(V), n_tables,
                                                   n_planes)
                ids_ = (bits * _w).sum(axis=2)          # (rows, T)
                return (ids_[:, None, :] == _QB[None, :, :]).any(axis=2)

            return _fused_cosine_route_topk(
                emb, qrows, queries.schema[q_id_col], id_col, vec_col,
                k, pair_mask)
    q_b = (lsh_buckets(queries.select(q_id_col, q_vec_col), q_vec_col,
                       dim, n_planes, n_tables, seed)
           .select(q_id_col, "table_id", "bucket"))
    cands = (e_b.join(F.broadcast(q_b), ["table_id", "bucket"])
             .select(q_id_col, id_col)
             .dropDuplicates([q_id_col, id_col]))
    paired = (cands
              .join(emb.select(id_col, vec_col), id_col)
              .join(F.broadcast(queries.select(q_id_col, q_vec_col)),
                    q_id_col))
    if _os.environ.get("LDB_ANN_CUT", "fused") != "fused":
        scored = paired.select(
            F.col(q_id_col), F.col(id_col),
            cosine_batch(F.col(vec_col), F.col(q_vec_col)).alias("cos"))
        return _topk_per_query(scored, q_id_col, id_col, k)
    return _fused_cosine_topk(paired, q_id_col, id_col, vec_col,
                              q_vec_col, k)


def _pq_train(X: np.ndarray, m: int, n_codes: int,
              seed: int = 42) -> np.ndarray:
    """Per-subspace codebooks (Jégou et al., PAMI'11 product quantization):
    split the dim axis into m contiguous subspaces and Lloyd-train n_codes
    centroids in each, on a driver-side sample.  Returns (m, n_codes,
    dim/m).  Deterministic (seeded init, fixed iteration count)."""
    d = X.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m} subspaces")
    if n_codes > 128:
        # codes are stored tinyint: index 128+ wraps negative in int8 and
        # the ADC gather reads from the END of the table — silently wrong
        # scores, so refuse loudly here.
        raise ValueError(f"n_codes={n_codes} exceeds the tinyint code "
                         "space (max 128 codes per subspace)")
    sub = d // m
    return np.stack([
        _lloyd_train(np.ascontiguousarray(X[:, s * sub:(s + 1) * sub]),
                     n_codes, seed=seed)
        for s in range(m)])


def _pq_encode_udf(books: np.ndarray):
    """Vectorized PQ encoder: per Arrow batch, L2-normalize (codes encode
    DIRECTION so the asymmetric-distance scan approximates cosine, not raw
    inner product) and argmin-assign each subvector to its subspace
    codebook — one matmul per subspace per batch.  Codes are tinyint, so
    n_codes <= 128."""
    B = books.astype(float)                        # (m, n_codes, sub)
    m, _, sub = B.shape
    half = 0.5 * (B * B).sum(axis=2)               # (m, n_codes)

    @F.pandas_udf("array<tinyint>")
    def _enc(vecs: pd.Series) -> pd.Series:
        V = np.stack(vecs.to_numpy()).astype(float)
        V /= np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
        codes = np.empty((len(V), m), dtype=np.int8)
        for s in range(m):
            score = V[:, s * sub:(s + 1) * sub] @ B[s].T - half[s]
            codes[:, s] = score.argmax(axis=1).astype(np.int8)
        return pd.Series(list(codes))

    return _enc


def _pq_adc_udf(lut: np.ndarray):
    """Asymmetric-distance (ADC) scorer: the per-query lookup tables
    (q, m, n_codes) ship in the UDF closure; per Arrow batch the score of
    every (vector, query) pair is m table lookups summed — no float vector
    is ever read.  Returns array<double> of length n_queries per row."""
    L = lut.astype(float)
    nq, m, _ = L.shape

    @F.pandas_udf("array<double>")
    def _adc(codes: pd.Series) -> pd.Series:
        C = np.stack(codes.to_numpy()).astype(np.int64)    # (N, m)
        scores = np.zeros((len(C), nq))
        for s in range(m):
            scores += L[:, s, C[:, s]].T                   # (N, q)
        return pd.Series(list(scores))

    return _adc


def _fused_adc_topk(codes: DataFrame, lut: np.ndarray, id_col: str,
                    rerank: int) -> DataFrame:
    """Fused ADC scan + level-1 cut for pq_topk (guide §4): one
    mapInPandas computes every (vector, query) ADC score (identical
    float accumulation to _pq_adc_udf) and keeps the per-(partition,
    query) top-rerank — the unfused form materialized an array<double>
    per row JVM-side, POSEXPLODED it to n_rows x n_queries rows, and
    shuffled them into the cut window; here only <= n_batches x rerank
    x n_queries survivors per partition ever reach the JVM.  Returns
    the (__qi, id) candidate pairs after the shared fold/rank tail —
    row-identical to the unfused path (same math, same tie-breaks)."""
    L = lut.astype(float)
    nq, m, _ = L.shape
    schema = StructType([codes.schema[id_col],
                         StructField("__qi", IntegerType(), False),
                         StructField("__adc", DoubleType(), False)])

    def run(batches):
        ids_acc, qi_acc, sc_acc = [], [], []
        for b in batches:
            if not len(b):
                continue
            C = np.stack(b["pq_codes"].to_numpy()).astype(np.int64)
            ids = b[id_col].to_numpy()
            scores = np.zeros((len(C), nq))
            for s in range(m):
                scores += L[:, s, C[:, s]].T
            for qi in range(nq):
                # lexsort: primary -score (i.e. score desc), tie id asc
                # — the window's (desc __adc, asc id) order exactly.
                o = np.lexsort((ids, -scores[:, qi]))[:rerank]
                ids_acc.append(ids[o])
                sc_acc.append(scores[o, qi])
                qi_acc.append(np.full(len(o), qi, dtype=np.int32))
        if not ids_acc:
            return
        ids = np.concatenate(ids_acc)
        qis = np.concatenate(qi_acc)
        scs = np.concatenate(sc_acc)
        keep_i, keep_q, keep_s = [], [], []
        for qi in range(nq):
            msk = qis == qi
            o = np.lexsort((ids[msk], -scs[msk]))[:rerank]
            keep_i.append(ids[msk][o])
            keep_s.append(scs[msk][o])
            keep_q.append(np.full(len(o), qi, dtype=np.int32))
        yield pd.DataFrame({id_col: np.concatenate(keep_i),
                            "__qi": np.concatenate(keep_q),
                            "__adc": np.concatenate(keep_s)})

    cut = codes.select(id_col, "pq_codes").mapInPandas(run, schema)
    return (_fold_rank_tail(cut, "__qi", id_col, "__adc", rerank)
            .select("__qi", id_col))


def _fused_adc_pair_topk(pairs: DataFrame, lut: np.ndarray,
                         qdotc: np.ndarray, id_col: str,
                         rerank: int) -> DataFrame:
    """Fused residual-ADC scoring + level-1 cut for the IVF-PQ
    pre-paired shape (same fusion rationale as _fused_adc_topk; same
    float accumulation as _pq_adc_pair_udf).  Returns the (__qi, id)
    candidate pairs after the shared fold/rank tail."""
    L = lut.astype(float)
    m = L.shape[1]
    QC = qdotc.astype(float)
    schema = StructType([pairs.schema[id_col],
                         StructField("__qi", IntegerType(), False),
                         StructField("__adc", DoubleType(), False)])

    def run(batches):
        acc = []
        for b in batches:
            if not len(b):
                continue
            C = np.stack(b["pq_codes"].to_numpy()).astype(np.int64)
            Q = b["__qi"].to_numpy().astype(np.int64)
            s = QC[Q, b["cell"].to_numpy().astype(np.int64)].copy()
            for sp in range(m):
                s += L[Q, sp, C[:, sp]]
            sb = pd.DataFrame({id_col: b[id_col].to_numpy(),
                               "__qi": b["__qi"].to_numpy(),
                               "__adc": s})
            acc.append(_pd_topk(sb, "__qi", id_col, "__adc", rerank))
        if not acc:
            return
        allb = pd.concat(acc) if len(acc) > 1 else acc[0]
        yield _pd_topk(allb, "__qi", id_col, "__adc", rerank)

    cut = (pairs.select(id_col, "__qi", "cell", "pq_codes")
           .mapInPandas(run, schema))
    return (_fold_rank_tail(cut, "__qi", id_col, "__adc", rerank)
            .select("__qi", id_col))


def _fused_adc_probe_topk(codes: DataFrame, lut: np.ndarray,
                          qdotc: np.ndarray, cell_qis: dict,
                          id_col: str, rerank: int) -> DataFrame:
    """Probe-routed fused ADC scan (r14 opt round): the (query, cell)
    probe routing rides into the Arrow kernel as a closure map instead
    of a createDataFrame + BroadcastHashJoin — the joined form paid a
    Python-RDD local-relation broadcast job per call AND expanded every
    code row into one Arrow row per probing query before the kernel;
    here the cell-pruned codes stream through ONCE and the kernel
    expands per batch in numpy.  Per (vector, query) the residual-ADC
    accumulation (QC constant + m table lookups, in subspace order) is
    the identical float sequence of _fused_adc_pair_topk, and the
    level-1 cut is exact per (partition, query) regardless of batch or
    expansion layout, so survivors — and the fold/rank tail — are
    row-identical to the joined form."""
    L = lut.astype(float)
    m = L.shape[1]
    QC = qdotc.astype(float)
    cq = {int(c): np.asarray(sorted(qs), dtype=np.int64)
          for c, qs in cell_qis.items()}
    schema = StructType([codes.schema[id_col],
                         StructField("__qi", IntegerType(), False),
                         StructField("__adc", DoubleType(), False)])

    def run(batches):
        acc = []
        for b in batches:
            if not len(b):
                continue
            C = np.stack(b["pq_codes"].to_numpy()).astype(np.int64)
            ids = b[id_col].to_numpy()
            cells = b["cell"].to_numpy().astype(np.int64)
            parts = []
            for cell in np.unique(cells):
                qis = cq.get(int(cell))
                if qis is None or not len(qis):
                    continue
                msk = cells == cell
                Cm, im = C[msk], ids[msk]
                for qi in qis:
                    s = np.full(len(im), QC[qi, cell])
                    for sp in range(m):
                        s += L[qi, sp, Cm[:, sp]]
                    parts.append(pd.DataFrame(
                        {id_col: im,
                         "__qi": np.full(len(im), qi, dtype=np.int32),
                         "__adc": s}))
            if not parts:
                continue
            sb = pd.concat(parts) if len(parts) > 1 else parts[0]
            acc.append(_pd_topk(sb, "__qi", id_col, "__adc", rerank))
        if not acc:
            return
        allb = pd.concat(acc) if len(acc) > 1 else acc[0]
        yield _pd_topk(allb, "__qi", id_col, "__adc", rerank)

    cut = codes.select(id_col, "cell", "pq_codes").mapInPandas(run, schema)
    return (_fold_rank_tail(cut, "__qi", id_col, "__adc", rerank)
            .select("__qi", id_col))


def _np_elem_dtype(arr_field: StructField):
    """Numpy dtype of an array column's ELEMENT type — the dtype Arrow
    hands the kernels for that column, so driver-side replicas of
    kernel math (probe routing, query buckets) see bit-identical
    inputs (collected Python floats round-trip exactly through the
    narrower dtype)."""
    from pyspark.sql.types import DoubleType as _Dt, FloatType as _Ft
    el = arr_field.dataType.elementType
    if isinstance(el, _Ft):
        return np.float32
    if isinstance(el, _Dt):
        return np.float64
    return np.float64


def _build_fused() -> bool:
    """True when the NON-INDEXED ANN paths fuse index-build scoring
    (cell assign / PQ encode / LSH bucketize) into the scoring kernel
    itself (r14 opt round continuation 3, guide §4.1/§2.4): the
    two-pass forms ship every corpus vector through the Python
    boundary once to build the index columns and AGAIN (ivf: ~2x, via
    the probe-join expansion; lsh: ~3x, via the collision pairs) to
    score them, plus (lsh) a corpus-sized dropDuplicates exchange.
    The fused kernels stream each vector ONCE and reproduce the exact
    float sequences of the split kernels, so results are row-identical
    (pinned in tests).  LDB_ANN_BUILD_FUSE=split restores the two-pass
    plans (A/B arm; also the only shape available for prebuilt
    indexes, where the index columns come from parquet, not a UDF)."""
    return _os.environ.get("LDB_ANN_BUILD_FUSE", "fused") == "fused"


def _fused_cosine_route_topk(emb: DataFrame, qrows: list, q_field,
                             id_col: str, vec_col: str, k: int,
                             pair_mask) -> DataFrame:
    """_fused_cosine_topk_local with a per-batch (row, query) routing
    mask: pair_mask(V_raw) -> bool (rows, n_queries) decides which
    pairs are scored (IVF cell-probe membership / LSH bucket
    collision), replacing the join that attached queries to corpus
    rows.  Scored pairs use the SAME _cosine_np on the same dtypes as
    the joined kernel, and the level-1 cut stays exact per (partition,
    query) with deterministic tie-breaks, so the final top-k is
    row-identical to the joined plan (every level keeps all global
    top-k members; the rank window's total order is unique)."""
    qids = [r[0] for r in qrows]
    qvecs = [r[1] for r in qrows]
    nq = len(qids)
    q_col = q_field.name
    qdt = _np_id_dtype(q_field)
    schema = StructType([q_field, emb.schema[id_col],
                         StructField("cos", DoubleType(), False)])

    def run(batches):
        acc = []
        Qm = None
        for b in batches:
            if not len(b):
                continue
            V = np.stack(b[vec_col].to_numpy())
            if Qm is None:
                Qm = np.stack([np.asarray(q, dtype=V.dtype)
                               for q in qvecs])
            ids = b[id_col].to_numpy()
            mask = pair_mask(V)
            parts = []
            for qi in range(nq):
                msk = mask[:, qi]
                if not msk.any():
                    continue
                Vm = V[msk]
                im = ids[msk]
                cos = _cosine_np(Vm, np.broadcast_to(Qm[qi], Vm.shape))
                qv = (np.full(len(im), qids[qi], dtype=qdt)
                      if qdt is not None else
                      pd.Series([qids[qi]] * len(im), dtype=object))
                parts.append(pd.DataFrame(
                    {q_col: qv, id_col: im, "cos": cos}))
            if not parts:
                continue
            sb = pd.concat(parts) if len(parts) > 1 else parts[0]
            acc.append(_pd_topk(sb, q_col, id_col, "cos", k))
        if not acc:
            return
        allb = pd.concat(acc) if len(acc) > 1 else acc[0]
        yield _pd_topk(allb, q_col, id_col, "cos", k)

    cut = emb.select(id_col, vec_col).mapInPandas(run, schema)
    return (_fold_rank_tail(cut, q_col, id_col, "cos", k)
            .withColumn("rank", F.col("__rank").cast("long"))
            .drop("__rank"))


def _fused_pq_enc_adc_topk(emb: DataFrame, books: np.ndarray,
                           lut: np.ndarray, id_col: str, vec_col: str,
                           rerank: int) -> DataFrame:
    """Single-pass PQ encode + ADC + level-1 cut for the NON-INDEXED
    pq path: the split form ran _pq_encode_udf over every vector,
    round-tripped the codes through the JVM, and scanned them again in
    _fused_adc_topk.  The kernel reproduces _pq_encode_udf's float
    sequence (normalize, per-subspace argmax) and _fused_adc_topk's
    accumulation/lexsort cut exactly, so survivors are row-identical."""
    B = books.astype(float)
    m, _, sub = B.shape
    half = 0.5 * (B * B).sum(axis=2)
    L = lut.astype(float)
    nq = L.shape[0]
    schema = StructType([emb.schema[id_col],
                         StructField("__qi", IntegerType(), False),
                         StructField("__adc", DoubleType(), False)])

    def run(batches):
        ids_acc, qi_acc, sc_acc = [], [], []
        for b in batches:
            if not len(b):
                continue
            # _pq_encode_udf's exact sequence
            V = np.stack(b[vec_col].to_numpy()).astype(float)
            V /= np.maximum(np.linalg.norm(V, axis=1, keepdims=True),
                            1e-12)
            C = np.empty((len(V), m), dtype=np.int64)
            for s in range(m):
                score = V[:, s * sub:(s + 1) * sub] @ B[s].T - half[s]
                C[:, s] = score.argmax(axis=1).astype(np.int8)
            # _fused_adc_topk's exact scan + per-batch cut
            ids = b[id_col].to_numpy()
            scores = np.zeros((len(C), nq))
            for s in range(m):
                scores += L[:, s, C[:, s]].T
            for qi in range(nq):
                o = np.lexsort((ids, -scores[:, qi]))[:rerank]
                ids_acc.append(ids[o])
                sc_acc.append(scores[o, qi])
                qi_acc.append(np.full(len(o), qi, dtype=np.int32))
        if not ids_acc:
            return
        ids = np.concatenate(ids_acc)
        qis = np.concatenate(qi_acc)
        scs = np.concatenate(sc_acc)
        keep_i, keep_q, keep_s = [], [], []
        for qi in range(nq):
            msk = qis == qi
            o = np.lexsort((ids[msk], -scs[msk]))[:rerank]
            keep_i.append(ids[msk][o])
            keep_s.append(scs[msk][o])
            keep_q.append(np.full(len(o), qi, dtype=np.int32))
        yield pd.DataFrame({id_col: np.concatenate(keep_i),
                            "__qi": np.concatenate(keep_q),
                            "__adc": np.concatenate(keep_s)})

    cut = emb.select(id_col, vec_col).mapInPandas(run, schema)
    return (_fold_rank_tail(cut, "__qi", id_col, "__adc", rerank)
            .select("__qi", id_col))


def _fused_ivfpq_enc_adc_topk(emb: DataFrame, cents: np.ndarray,
                              books: np.ndarray, lut: np.ndarray,
                              qdotc: np.ndarray, cell_qis: dict,
                              id_col: str, vec_col: str,
                              rerank: int) -> DataFrame:
    """Single-pass residual encode + probe-routed ADC + level-1 cut for
    the NON-INDEXED ivfpq path: the split form ran _ivfpq_encode_udf
    over every vector, round-tripped (cell, codes) through the JVM,
    filtered on the probed cells, and scanned the codes again in
    _fused_adc_probe_topk.  The kernel reproduces _ivfpq_encode_udf's
    float sequence (normalize, coarse argmax, residual, per-subspace
    argmax) and _fused_adc_probe_topk's per-cell accumulation exactly;
    unprobed cells fall out of the routing map just as they fell out of
    the isin filter, so survivors are row-identical."""
    Cc = cents.astype(float)
    half_c = 0.5 * (Cc * Cc).sum(axis=1)
    B = books.astype(float)
    m, _, sub = B.shape
    half_b = 0.5 * (B * B).sum(axis=2)
    L = lut.astype(float)
    QC = qdotc.astype(float)
    cq = {int(c): np.asarray(sorted(qs), dtype=np.int64)
          for c, qs in cell_qis.items()}
    schema = StructType([emb.schema[id_col],
                         StructField("__qi", IntegerType(), False),
                         StructField("__adc", DoubleType(), False)])

    def run(batches):
        acc = []
        for b in batches:
            if not len(b):
                continue
            # _ivfpq_encode_udf's exact sequence
            V = np.stack(b[vec_col].to_numpy()).astype(float)
            V /= np.maximum(np.linalg.norm(V, axis=1, keepdims=True),
                            1e-12)
            cells = (V @ Cc.T - half_c).argmax(axis=1)
            R = V - Cc[cells]
            C = np.empty((len(V), m), dtype=np.int64)
            for s in range(m):
                score = R[:, s * sub:(s + 1) * sub] @ B[s].T - half_b[s]
                C[:, s] = score.argmax(axis=1).astype(np.int8)
            # _fused_adc_probe_topk's exact per-cell scan + cut
            ids = b[id_col].to_numpy()
            parts = []
            for cell in np.unique(cells):
                qis = cq.get(int(cell))
                if qis is None or not len(qis):
                    continue
                msk = cells == cell
                Cm, im = C[msk], ids[msk]
                for qi in qis:
                    s = np.full(len(im), QC[qi, cell])
                    for sp in range(m):
                        s += L[qi, sp, Cm[:, sp]]
                    parts.append(pd.DataFrame(
                        {id_col: im,
                         "__qi": np.full(len(im), qi, dtype=np.int32),
                         "__adc": s}))
            if not parts:
                continue
            sb = pd.concat(parts) if len(parts) > 1 else parts[0]
            acc.append(_pd_topk(sb, "__qi", id_col, "__adc", rerank))
        if not acc:
            return
        allb = pd.concat(acc) if len(acc) > 1 else acc[0]
        yield _pd_topk(allb, "__qi", id_col, "__adc", rerank)

    cut = emb.select(id_col, vec_col).mapInPandas(run, schema)
    return (_fold_rank_tail(cut, "__qi", id_col, "__adc", rerank)
            .select("__qi", id_col))


def pq_encode(emb: DataFrame, *, dim: int, m: int = 16, n_codes: int = 32,
              train_sample: int = 2048, id_col: str = "vec_id",
              vec_col: str = "embedding", seed: int = 42,
              ) -> tuple[np.ndarray, DataFrame]:
    """Train PQ codebooks on a deterministic sample and encode the corpus:
    returns (codebooks, (id, pq_codes) DataFrame).  The compression IS the
    scale story: a 64-dim float32 embedding is 256 B; its m=16 tinyint
    code is 16 B — the ADC candidate scan reads ~6% of the bytes, and the
    code column parquet-encodes far below even that.  Training cost is
    O(train_sample), independent of corpus size.

    The training sample is the corpus's first train_sample rows in
    xxhash64(id) order — a deterministic pseudo-random spread across the
    WHOLE corpus (planned as a distributed TakeOrdered, never a full
    sort), so clusters that live far from the low ids still shape the
    codebooks; sampling the first ids instead was measured to miss them
    (recall 0.40 -> 0.78 on the k=50 scale-probe corpus)."""
    sample = (emb.select(vec_col).orderBy(F.xxhash64(F.col(id_col)))
              .limit(train_sample).collect())
    X = np.stack([np.asarray(r[0], dtype=float) for r in sample])
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    books = _pq_train(X, m, n_codes, seed=seed)
    codes = emb.select(
        id_col, _pq_encode_udf(books)(F.col(vec_col)).alias("pq_codes"))
    return books, codes


def pq_topk(emb: DataFrame, queries: DataFrame, k: int = 10, *,
            dim: int, m: int = 16, n_codes: int = 32, rerank: int = 64,
            train_sample: int = 2048,
            id_col: str = "vec_id", vec_col: str = "embedding",
            q_id_col: str = "q_id", q_vec_col: str = "q_vec",
            seed: int = 42, max_queries: int | None = None,
            index: tuple[np.ndarray, DataFrame] | None = None) -> DataFrame:
    """Product-quantization approximate top-k (Jégou et al., PAMI'11) —
    the compressed-domain ANN path alongside lsh_topk (hash pruning) and
    ivf_topk (partition pruning): the corpus is scanned as m-byte PQ codes
    and scored against per-query ADC lookup tables (m table lookups per
    pair, no float math, no vector I/O); the top `rerank` ADC candidates
    per query fetch their full vectors once and exact cosine re-ranks.

    Distribution shape: the candidate cut is a TWO-LEVEL top-k — a
    per-input-partition window (keys = n_partitions x n_queries, each
    bounded by partition size) feeds a global window over the surviving
    n_partitions x rerank rows per query — so no single reducer ever sees
    a corpus-proportional row count.  The re-rank join touches only
    rerank x n_queries full vectors.  Queries are driver-collected to
    build the LUTs: same bounded-query-set contract as the broadcast in
    brute_force_topk (``max_queries`` raises the 4096-row cap per call
    for deliberately large batches — an explicit opt-in, not a module
    global to patch).

    Build-once/query-many: pass ``index=(codebooks, codes_df)`` from a
    prior ``pq_encode`` (e.g. codes persisted to parquet alongside the
    corpus) to skip the per-call train+encode — the deployment shape,
    where the index build amortizes over every query batch.  The
    subspace geometry (m, dim) is DERIVED from the codebook shape, so
    keyword args inconsistent with a prebuilt index cannot silently
    misroute the LUT math."""
    books, codes = index if index is not None else pq_encode(
        emb, dim=dim, m=m, n_codes=n_codes, train_sample=train_sample,
        id_col=id_col, vec_col=vec_col, seed=seed)
    m, _, sub = books.shape          # the index is the truth, not kwargs
    if m * sub != dim:
        raise ValueError(f"index codebooks are {m}x{sub}-dim "
                         f"(= {m * sub}), queries are {dim}-dim")
    qrows = _collect_queries(queries, q_id_col, q_vec_col, max_queries)
    Q = np.stack([np.asarray(r[1], dtype=float) for r in qrows])
    Q /= np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)
    # lut[qi, s, c] = q_sub(s) . codebook[s, c]
    lut = np.einsum("qsd,scd->qsc", Q.reshape(len(Q), m, sub), books)

    if _os.environ.get("LDB_ANN_CUT", "fused") != "fused":
        adc = codes.select(
            F.col(id_col),
            F.posexplode(_pq_adc_udf(lut)(F.col("pq_codes")))
             .alias("__qi", "__adc"))
        cand = _two_level_topk(adc, id_col, rerank)
    elif index is None and _build_fused():
        # Fused encode+ADC (continuation 3): the PQ-encode UDF pass and
        # the codes round-trip through the JVM collapse into the ADC
        # scan kernel.
        cand = _fused_pq_enc_adc_topk(emb, books, lut, id_col, vec_col,
                                      rerank)
    else:
        cand = _fused_adc_topk(codes, lut, id_col, rerank)
    return _exact_rerank(cand, emb, queries, qrows, k, id_col=id_col,
                         vec_col=vec_col, q_id_col=q_id_col,
                         q_vec_col=q_vec_col)


def _two_level_topk(adc: DataFrame, id_col: str, rerank: int) -> DataFrame:
    """ADC candidate cut: _two_level_cut over (__qi, id, __adc) rows,
    returning the (__qi, id) candidate pairs for the exact re-rank."""
    return (_two_level_cut(adc, "__qi", id_col, "__adc", rerank)
            .select("__qi", id_col))


def _exact_rerank(cand: DataFrame, emb: DataFrame, queries: DataFrame,
                  qrows: list, k: int, *, id_col: str, vec_col: str,
                  q_id_col: str, q_vec_col: str) -> DataFrame:
    """Map (__qi, id) candidates back to query ids, fetch the candidates'
    full vectors (rerank x n_queries rows — the only vector I/O after the
    compressed scan), exact cosine re-rank, top-k per query.

    r14 opt round: the __qi -> (q_id, q_vec) mapping is driver-local
    (qrows IS the collected query set), so for bounded query sets it
    rides as element_at() LITERAL arrays instead of two broadcast
    joins — the q_lookup local relation cost a Python-RDD broadcast
    job per call, and the queries build side a third scan of the
    query frame.  Literals are cast to the source columns' exact
    types (collected floats round-trip exactly), so cosine_batch sees
    identical values and the rescore_exact strict-equality invariant
    is preserved.  LDB_ANN_QPLAN=join restores the joined form (also
    the fallback for oversized query sets, where a literal plan would
    bloat)."""
    spark = emb.sparkSession
    literal_ok = (len(qrows) > 0 and len(qrows) <= 256
                  and _os.environ.get("LDB_ANN_QPLAN", "local") == "local")
    if literal_ok:
        qid_t = queries.schema[q_id_col].dataType
        qvec_t = queries.schema[q_vec_col].dataType
        qid_arr = F.array(*[F.lit(r[0]).cast(qid_t) for r in qrows])
        qvec_arr = F.array(*[
            F.array(*[F.lit(float(x)) for x in r[1]]).cast(qvec_t)
            for r in qrows])
        idx = F.col("__qi") + 1
        scored = (cand.join(emb.select(id_col, vec_col), id_col)
                  .select(F.element_at(qid_arr, idx).alias(q_id_col),
                          F.col(id_col),
                          cosine_batch(F.col(vec_col),
                                       F.element_at(qvec_arr, idx))
                          .alias("cos")))
    else:
        q_lookup = local_frame(
            spark, [(i, r[0]) for i, r in enumerate(qrows)],
            StructType([StructField("__qi", IntegerType(), False),
                        queries.schema[q_id_col]]))
        scored = (cand.join(F.broadcast(q_lookup), "__qi")
                  .join(emb.select(id_col, vec_col), id_col)
                  .join(F.broadcast(queries.select(q_id_col, q_vec_col)),
                        q_id_col)
                  .select(F.col(q_id_col), F.col(id_col),
                          cosine_batch(F.col(vec_col),
                                       F.col(q_vec_col)).alias("cos")))
    w = Window.partitionBy(q_id_col).orderBy(F.desc("cos"), F.asc(id_col))
    return (scored.withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= k))


def _pq_adc_pair_udf(lut: np.ndarray, qdotc: np.ndarray):
    """ADC scorer for pre-paired (codes, query-index, cell) rows — the
    IVF-PQ shape, where the cell-probe join has already pruned which
    (vector, query) pairs get scored.  Residual decomposition: v_hat =
    c_cell + r, so q_hat . v_hat = q_hat . c_cell (the per-(query, cell)
    constant `qdotc`) + q_hat . r (m residual-table lookups).  One gather
    per subspace per Arrow batch."""
    L = lut.astype(float)
    m = L.shape[1]
    QC = qdotc.astype(float)                               # (q, n_cells)

    @F.pandas_udf("double")
    def _adc(codes: pd.Series, qi: pd.Series, cell: pd.Series) -> pd.Series:
        C = np.stack(codes.to_numpy()).astype(np.int64)    # (N, m)
        Q = qi.to_numpy().astype(np.int64)                 # (N,)
        s = QC[Q, cell.to_numpy().astype(np.int64)].copy()
        for sp in range(m):
            s += L[Q, sp, C[:, sp]]
        return pd.Series(s)

    return _adc


def _ivfpq_encode_udf(cents_n: np.ndarray, books: np.ndarray):
    """Vectorized residual IVF-PQ encoder: per Arrow batch, L2-normalize,
    assign the nearest normalized-space coarse centroid, and PQ-encode
    the RESIDUAL v_hat - c_cell (Jégou et al.'s IVFADC): residuals are
    much smaller than directions, so the same m x n_codes budget spends
    its resolution inside the cell — the classic recall refinement over
    quantizing the direction itself.  Returns struct(cell, pq_codes) in
    one pass."""
    C = cents_n.astype(float)                      # (n_cells, dim)
    half_c = 0.5 * (C * C).sum(axis=1)
    B = books.astype(float)                        # (m, n_codes, sub)
    m, _, sub = B.shape
    half_b = 0.5 * (B * B).sum(axis=2)             # (m, n_codes)

    @F.pandas_udf("struct<cell: int, pq_codes: array<tinyint>>")
    def _enc(vecs: pd.Series) -> pd.DataFrame:
        V = np.stack(vecs.to_numpy()).astype(float)
        V /= np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
        cell = (V @ C.T - half_c).argmax(axis=1)
        R = V - C[cell]
        codes = np.empty((len(V), m), dtype=np.int8)
        for s in range(m):
            score = R[:, s * sub:(s + 1) * sub] @ B[s].T - half_b[s]
            codes[:, s] = score.argmax(axis=1).astype(np.int8)
        return pd.DataFrame({"cell": cell.astype(np.int32),
                             "pq_codes": list(codes)})

    return _enc


def ivfpq_build(emb: DataFrame, *, dim: int, n_cells: int = 16,
                m: int = 16, n_codes: int = 32, train_sample: int = 2048,
                id_col: str = "vec_id", vec_col: str = "embedding",
                seed: int = 42,
                ) -> tuple[np.ndarray, np.ndarray, DataFrame]:
    """Build the IVF-PQ index: (normalized-space coarse centroids,
    RESIDUAL PQ codebooks, (id, cell, pq_codes) DataFrame).  The codes
    frame is the at-rest index — written partitioned BY `cell`, a
    probe's scan is partition-pruned I/O over m-byte codes; the float
    vector column is only ever read by the final re-rank.  Codebooks are
    trained on the sample's residuals v_hat - c_cell (IVFADC), so the
    quantization budget resolves within-cell structure.  Training cost
    is O(train_sample), independent of corpus size; encode is one
    vectorized pass.  Sample in xxhash64(id) order — see pq_encode's
    docstring."""
    sample = (emb.select(vec_col).orderBy(F.xxhash64(F.col(id_col)))
              .limit(train_sample).collect())
    X = np.stack([np.asarray(r[0], dtype=float) for r in sample])
    Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    cents = _lloyd_train(Xn.copy(), n_cells, seed=seed)
    assign = (Xn @ cents.T - 0.5 * (cents * cents).sum(axis=1)).argmax(axis=1)
    books = _pq_train(Xn - cents[assign], m, n_codes, seed=seed)
    codes = ivfpq_append(cents, books, emb, id_col=id_col,
                         vec_col=vec_col)
    return cents, books, codes


def ivfpq_append(cents: np.ndarray, books: np.ndarray, new_emb: DataFrame,
                 *, id_col: str = "vec_id", vec_col: str = "embedding",
                 ) -> DataFrame:
    """Append-path encode: (id, cell, pq_codes) for NEW vectors using an
    EXISTING index's frozen quantizers — the index-maintenance half of
    the at-rest story (reference analogue: appending to the persisted
    LingoDBHashIndex without a rebuild).  A 100 TB deployment absorbs a
    daily delta as one vectorized encode pass + a
    ``mode("append").partitionBy("cell")`` parquet write next to the
    existing files; probe routing and layout are unchanged because the
    centroids/codebooks are.  Contract boundary: quantizers are FROZEN,
    so if the delta's distribution drifts from the training sample,
    within-cell residuals grow and recall decays — the standard IVF
    maintenance rule is to monitor and periodically retrain+re-encode.
    Exactness of the machinery is unaffected (the appended corpus under
    exhaustive knobs still equals brute force —
    test_ivfpq_append_exhaustive_equals_brute_force)."""
    enc = _nondet(_ivfpq_encode_udf(cents, books))(F.col(vec_col))
    return new_emb.select(
        id_col, enc.getField("cell").alias("cell"),
        enc.getField("pq_codes").alias("pq_codes"))


def ivf_append(cents: np.ndarray, new_emb: DataFrame, *,
               id_col: str = "vec_id", vec_col: str = "embedding",
               ) -> DataFrame:
    """IVF-Flat append path: (id, vec, cell) for new vectors under an
    existing index's frozen coarse quantizer — same maintenance
    contract as ivfpq_append."""
    return new_emb.select(
        id_col, vec_col,
        _nondet(_cell_udf(cents, 1))(F.col(vec_col)).getItem(0)
        .alias("cell"))


def index_delete(codes: DataFrame, deleted: DataFrame, *,
                 id_col: str = "vec_id") -> DataFrame:
    """TOMBSTONE delete — the read-path half of index-maintenance
    deletion (complement of ivfpq_append/ivf_append): the at-rest codes
    frame anti-joins the deleted-id set, so queries immediately stop
    returning deleted vectors without touching a single index file.
    The tombstone set is the small side (broadcast anti join); the
    codes scan keeps its cell partition pruning.  Reference analogue:
    logical deletion against the persisted LingoDBHashIndex before a
    rebuild."""
    return codes.join(F.broadcast(deleted.select(id_col)),
                      on=id_col, how="left_anti")


def compact_index_cells(spark, path: str, deleted: DataFrame, *,
                        id_col: str = "vec_id") -> list:
    """PHYSICAL compaction of tombstoned deletes: rewrite ONLY the cell
    partitions that contain deleted ids (dynamic partition overwrite
    through a staging dir — Spark refuses a direct self-overwrite of a
    path being read), leaving every untouched cell's files byte-
    identical.  At 100 TB a 0.1% delete rewrites ~0.1% of the index,
    not the index.  Cells emptied entirely are removed explicitly
    (dynamic overwrite only replaces partitions PRESENT in the written
    frame, so a fully-emptied cell would otherwise keep its stale
    file).  Returns the sorted list of rewritten/removed cells."""
    import atexit
    import os
    import shutil
    import tempfile
    codes = spark.read.parquet(path)
    touched = sorted(r.cell for r in
                     codes.join(deleted.select(id_col), id_col)
                     .select("cell").distinct().collect())
    if not touched:
        return []
    remain = (codes.filter(F.col("cell").isin([int(c) for c in touched]))
              .join(F.broadcast(deleted.select(id_col)), id_col,
                    "left_anti"))
    if remain.isEmpty():
        # Every touched cell emptied: nothing to stage (an all-empty
        # partitioned write leaves no schema to read back) — just drop
        # the emptied cell directories.
        for c in touched:
            shutil.rmtree(os.path.join(path, f"cell={c}"),
                          ignore_errors=True)
        return touched
    staging = tempfile.mkdtemp(prefix="ldb_idx_compact_")
    atexit.register(shutil.rmtree, staging, ignore_errors=True)
    remain.write.mode("overwrite").partitionBy("cell").parquet(staging)
    staged = spark.read.parquet(staging)
    (staged.write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("cell").parquet(path))
    present = {r.cell for r in staged.select("cell").distinct().collect()}
    for c in set(touched) - present:
        shutil.rmtree(os.path.join(path, f"cell={c}"),
                      ignore_errors=True)
    return touched


def ivfpq_topk(emb: DataFrame, queries: DataFrame, k: int = 10, *,
               dim: int, n_cells: int = 16, n_probe: int = 4,
               m: int = 16, n_codes: int = 32, rerank: int = 64,
               train_sample: int = 2048,
               id_col: str = "vec_id", vec_col: str = "embedding",
               q_id_col: str = "q_id", q_vec_col: str = "q_vec",
               seed: int = 42, max_queries: int | None = None,
               index: tuple[np.ndarray, np.ndarray, DataFrame]
               | None = None) -> DataFrame:
    """IVF-PQ: the composed billion-scale ANN index (coarse k-means cells
    for partition pruning x product-quantization codes for a compressed
    scan) — a query touches n_probe/n_cells of the corpus AND reads only
    m-byte codes inside those cells, so at 100 TB with `cell` as the
    partition column the candidate scan is (n_probe/n_cells) x ~6% of the
    embedding bytes.  Codes quantize the RESIDUAL v_hat - c_cell
    (IVFADC, Jégou et al. PAMI'11): the ADC score decomposes as
    q_hat . c_cell (a per-(query, cell) constant from the probe
    routing) + q_hat . residual (m table lookups), so the scan shape is
    unchanged while the quantization budget resolves within-cell
    structure — measured recall 0.58 -> 0.80 over direction codes on
    the k=50 probe corpus at identical knobs.  Exact cosine re-rank of
    the top `rerank` ADC candidates per query; same bounded-query-set
    (``max_queries``-tunable) and two-level top-k contracts as pq_topk.

    Build-once/query-many: pass ``index=(centroids, codebooks,
    codes_df)`` from a prior ``ivfpq_build`` (the codes frame read back
    from its cell-partitioned parquet) to skip the per-call
    train+encode — the deployment shape.  FILTERED search (top-k among
    vectors passing a metadata predicate) is the same call with the
    codes frame pre-joined to the allowed-id set: the filter applies
    before the cut, so the k results are k filtered vectors
    (test_ivfpq_filtered_search_by_composition pins exhaustive-knob
    equality with filtered brute force).  The cell count and subspace
    geometry are DERIVED from the centroid/codebook shapes, so keyword
    args inconsistent with a prebuilt index cannot silently misroute
    the probe or the LUT math."""
    cents, books, codes = index if index is not None else ivfpq_build(
        emb, dim=dim, n_cells=n_cells, m=m, n_codes=n_codes,
        train_sample=train_sample, id_col=id_col, vec_col=vec_col,
        seed=seed)
    n_cells = cents.shape[0]         # the index is the truth, not kwargs
    m, _, sub = books.shape
    if m * sub != dim:
        raise ValueError(f"index codebooks are {m}x{sub}-dim "
                         f"(= {m * sub}), queries are {dim}-dim")
    n_probe = min(n_probe, n_cells)

    qrows = _collect_queries(queries, q_id_col, q_vec_col, max_queries)
    Q = np.stack([np.asarray(r[1], dtype=float) for r in qrows])
    Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)
    lut = np.einsum("qsd,scd->qsc", Qn.reshape(len(Qn), m, sub), books)
    # Driver-side cell probing (queries are already collected): the
    # (query, cell) pairs broadcast into the pruning join.  Routing
    # ranks cells by the SAME score the encoder assigns with
    # (q . c - |c|^2/2, i.e. nearest-by-distance), so a probed cell is
    # exactly where the query itself would have been filed; the
    # residual decomposition's constant term is the plain q . c.
    qdotc = Qn @ cents.T
    probe_cells = np.argsort(
        -(qdotc - 0.5 * (cents * cents).sum(axis=1)), axis=1)[:, :n_probe]
    spark = emb.sparkSession

    # STATIC partition pruning: the probed cells are driver-side
    # literals, so filter the codes scan on them directly — when the
    # index was read back from its partitionBy("cell") parquet, this
    # plans as PartitionFilters [cell IN (...)] and the scan's I/O is
    # exactly the probed cells' files (asserted in tests/test_plans.py).
    # A broadcast join alone would not prune: DPP declines an unfiltered
    # local-relation build side, and static beats dynamic anyway.
    probed = sorted({int(c) for row in probe_cells for c in row})
    pruned = codes.filter(F.col("cell").isin(probed))
    fused = _os.environ.get("LDB_ANN_CUT", "fused") == "fused"
    if fused and _os.environ.get("LDB_ANN_QPLAN", "local") == "local":
        # Probe routing as a kernel closure (no local-relation
        # broadcast, no pre-kernel row expansion — see
        # _fused_adc_probe_topk).
        cell_qis: dict = {}
        for qi in range(len(qrows)):
            for c in probe_cells[qi]:
                cell_qis.setdefault(int(c), []).append(qi)
        if index is None and _build_fused():
            # Fused encode+ADC (continuation 3): the residual-encode
            # UDF pass and the codes round-trip through the JVM
            # collapse into the probe-routed ADC kernel; unprobed
            # cells fall out of the routing map exactly as they fell
            # out of the isin filter.
            cand = _fused_ivfpq_enc_adc_topk(emb, cents, books, lut,
                                             qdotc, cell_qis, id_col,
                                             vec_col, rerank)
        else:
            cand = _fused_adc_probe_topk(pruned, lut, qdotc, cell_qis,
                                         id_col, rerank)
    else:
        probes = local_frame(
            spark, [(qi, int(c)) for qi in range(len(qrows))
                    for c in probe_cells[qi]],
            "`__qi` INT, `cell` INT")
        pairs = pruned.join(F.broadcast(probes), "cell")
        if not fused:
            adc = pairs.select(F.col(id_col), F.col("__qi"),
                               _pq_adc_pair_udf(lut, qdotc)(
                                   F.col("pq_codes"), F.col("__qi"),
                                   F.col("cell")).alias("__adc"))
            cand = _two_level_topk(adc, id_col, rerank)
        else:
            cand = _fused_adc_pair_topk(pairs, lut, qdotc, id_col, rerank)
    return _exact_rerank(cand, emb, queries, qrows, k, id_col=id_col,
                         vec_col=vec_col, q_id_col=q_id_col,
                         q_vec_col=q_vec_col)


def fuzzy_pairs(df: DataFrame, id_col: str, str_col: str,
                max_dist: int = 2, n_bands: int = 4,
                max_bucket: int = 2000) -> DataFrame:
    """Fuzzy self-join: pairs of rows whose strings are within
    Levenshtein distance max_dist — entity resolution without an
    all-pairs scan.  Candidate generation is positional BANDING
    (the SimHash pigeonhole, applied to characters): the string is cut
    into n_bands equal slices; <= max_dist edits touch <= max_dist
    bands, so any pair within distance max_dist <= n_bands - 1 shares
    at least one identical (band_idx, band_text) and the equi-join on
    bands finds it — EXACT recall for substitution-only edits (the
    aligned-position case; insertions shift every later band, those
    pairs need q-gram candidates instead).  Ubiquitous bands
    (> max_bucket rows, e.g. constant prefixes) are dropped before the
    self-join; candidates re-score with exact levenshtein.

    RECALL CAVEAT: the frequency prune bounds recall, it does not
    preserve it.  The exact-recall guarantee holds only while every
    MATCHING band of a near-pair stays at or under max_bucket rows: a
    pair whose differing bands never match and whose matching bands are
    all ubiquitous (e.g. a shared 'Customer#' prefix once row counts
    exceed the cap) loses every candidate bucket and is silently
    missed.  Size max_bucket above the hottest legitimate band
    frequency, and watch the `fuzzy_pruned_bands` observe() metric the
    plan emits — nonzero pruning at scale means the recall guarantee
    has narrowed to 'pairs with at least one sub-cap matching band'.
    Returns (id_a, id_b, dist), id_a < id_b."""
    L = F.length(F.col(str_col))
    band_len = F.ceil(L.cast("double") / n_bands).cast("int")
    bands = F.transform(
        F.sequence(F.lit(0), F.lit(n_bands - 1)),
        lambda i: F.struct(
            i.alias("band_idx"),
            F.substring(F.col(str_col), i * band_len + 1,
                        F.greatest(band_len, F.lit(1))).alias("band_txt")))
    ex = (df.select(F.col(id_col), F.col(str_col), F.explode(bands).alias("b"))
          .select(F.col(id_col), F.col(str_col),
                  F.col("b.band_idx").alias("band_idx"),
                  F.col("b.band_txt").alias("band_txt")))
    band_counts = (ex.groupBy("band_idx", "band_txt")
                   .agg(F.count(F.lit(1)).alias("__n"))
                   .observe("fuzzy_pruned_bands",
                            F.sum(F.when(F.col("__n") > max_bucket, 1)
                                  .otherwise(0)).alias("pruned_bands")))
    keep = (band_counts.filter(F.col("__n") <= max_bucket)
            .select("band_idx", "band_txt"))
    pruned = ex.join(keep, ["band_idx", "band_txt"])
    a = pruned.select(F.col(id_col).alias("id_a"),
                      F.col(str_col).alias("__sa"), "band_idx", "band_txt")
    b = pruned.select(F.col(id_col).alias("id_b"),
                      F.col(str_col).alias("__sb"), "band_idx", "band_txt")
    cand = (a.join(b, ["band_idx", "band_txt"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", "__sa", "__sb").distinct())
    return (cand.withColumn("dist", F.levenshtein("__sa", "__sb"))
            .filter(F.col("dist") <= max_dist)
            .select("id_a", "id_b", F.col("dist").cast("long").alias("dist")))
