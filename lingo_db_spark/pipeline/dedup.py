"""Deduplication operators: exact, fingerprint, MinHash+LSH, SimHash.

Scale design (the point of every choice here):
- exact/fingerprint dedup: one hash shuffle on the dedup key, keep-first
  inside each partition via row_number — never a global sort, never a
  driver collect.
- MinHash near-dup: signatures are H min-aggregations over exploded
  shingles (one shuffle on doc id); LSH banding pairs only rows that
  collide in a (band_id, band_hash) bucket — candidate pairs are
  O(n·bucket_width), never the all-pairs O(n²) crossJoin.
- SimHash: 64-bit signature via an Arrow-batched pandas UDF (token loop
  can't be expressed as a fixed-width JVM expression), then the same
  banded-join trick on 16-bit chunks for Hamming-candidate generation.

No reference counterpart (lingo-db has no dedup operators) — these are the
SURVEY.md §7 Phase-4 pipeline extensions.
"""

from __future__ import annotations

import hashlib
import struct as _struct
import os as _os
import sys as _sys

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from lingo_db_spark.pipeline.barrier import barrier, truncate_lineage
from lingo_db_spark.pipeline.text import shingles, tokens
from lingo_db_spark.session import local_frame


def dedup_exact(df: DataFrame, key_cols: list[str] | tuple[str, ...],
                tiebreak_col: str) -> DataFrame:
    """Keep exactly one row per distinct key (the one with the smallest
    tiebreak value).  Plan: hash shuffle on key_cols + per-partition sort —
    the scalable keep-first idiom (no global ordering)."""
    w = Window.partitionBy(*key_cols).orderBy(tiebreak_col)
    return (df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1).drop("__rn"))


def spread(df: DataFrame, key_col: str) -> DataFrame:
    """Repartition up to the cluster's parallelism when the input arrives
    in fewer splits — CPU-bound per-row work (shingling, signature UDFs)
    must not run single-threaded just because the source was one small
    file.  No-op at scale, where scans already produce >= cores splits."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target, key_col)
    return df


def shingle_hashes(df: DataFrame, id_col: str, text_col: str,
                   shingle_k: int = 3) -> DataFrame:
    """(id, shs: array<bigint>) — 64-bit hash of each distinct k-token
    shingle.  Hashing once up front makes every downstream step (minhash
    mins, set intersections) integer work instead of string work; set
    sizes are preserved with 64-bit collision probability (~n²/2^64).

    Tokens are hashed IN the tokenize projection (xxhash64 per token —
    a transform's TARGET evaluates once per row); k-gram hashes then
    combine hash-of-hashes via a zip_with CHAIN (arguments evaluate
    once per row — NO lambda-body slicing anywhere in the pass).  This
    is winnow_fingerprints' xxhash64 mode transferred (r10): the r9
    shape barriered the token-STRING arrays and built shingles by a
    per-element slicing lambda, and paying that eager materialization
    inside every cold-cache bench run was the pipeline_minhash_neardup
    anomaly.  Hash-of-hashes yields different VALUES than
    xxhash64(shingle string), which no consumer or oracle depends on —
    MinHash re-scores exact Jaccard over the hashed sets, and the
    DuckDB oracles recompute ground truth from token strings.

    DELIBERATELY NO barrier here: with the zip_with chain the alias
    re-evaluation is per-REFERENCE (bounded, ~2k per row), not
    per-element, and the r10 A/B (quiet host, bench protocol) measured
    skipping the extra materialization 25% faster end-to-end (1.67 s vs
    2.23 s at sf0.1) with zero storage footprint — the shape that also
    wins at 100 TB, where a second corpus-sized materialization is pure
    cost.  Callers that consume the result twice persist it themselves
    (_shingle_sets_and_signatures).

    The raw (id, text) rows are spread BEFORE tokenizing, so the shuffle
    moves text once and all tokenize/hash work runs after it, on every
    core.  A filter on `shs` above this frame is still pushed below the
    repartition (Catalyst pushes deterministic filters through
    RepartitionByExpression and inlines the whole shingle expression
    into them), so filter only a materialized copy."""
    toked = spread(df.select(id_col, text_col), id_col).select(
        F.col(id_col),
        F.transform(tokens(text_col), lambda s: F.xxhash64(s)).alias("__t"))
    t, n = F.col("__t"), F.size("__t")
    gram_h = t
    for j in range(1, shingle_k):
        gram_h = F.zip_with(gram_h, F.slice(t, j + 1, n),
                            lambda a, b: F.xxhash64(a, b))
    # tail positions past n-k+1 hold PARTIAL-gram hashes (xxhash64
    # ignores NULL arguments — null-propagation does not drop them);
    # the slice is the sole guard, as in winnow_fingerprints.
    return toked.select(
        F.col(id_col),
        F.array_distinct(
            F.slice(gram_h, F.lit(1),
                    F.greatest(n - shingle_k + 1, F.lit(0)))).alias("shs"))


_SIG_UDFS: dict[int, object] = {}


def _signature_udf(num_hashes: int):
    """Vectorized MinHash: per document, min over shingle hashes of H
    multiply-shift mixes ((odd_A_i * h + B_i) mod 2^64) — one numpy outer
    product per row.  Replaces a 64-column min-aggregation whose giant
    codegen was both slow and high-variance; as a narrow per-row op it
    also needs NO shuffle, which is the shape that wins at 100TB."""
    if num_hashes in _SIG_UDFS:
        return _SIG_UDFS[num_hashes]
    rng = np.random.RandomState(42)
    A = (rng.randint(0, 2**62, size=num_hashes).astype(np.uint64) * 2 + 1)
    B = rng.randint(0, 2**62, size=num_hashes).astype(np.uint64)

    @F.pandas_udf("array<long>")
    def _sig(shs: pd.Series) -> pd.Series:
        # One flat computation for the whole Arrow batch (per-row numpy
        # calls cost ~ms each in overhead): concatenate all shingle
        # arrays, hash the flat vector, then minimum.reduceat at the
        # per-document offsets.  Hash functions are applied ONE AT A
        # TIME over the flat 1-D vector (r14 opt round): the previous
        # flat[:, None] * A broadcast materialized a total_shingles x
        # num_hashes u64 matrix per batch and fed 2-D reduceat's slow
        # non-contiguous path — the 1-D loop produces identical values
        # 20x faster with a num_hashes-times smaller peak (micro-bench
        # in OPTIMIZATION_r14.md).
        lens = shs.map(len).to_numpy()
        if len(lens) == 0 or lens.sum() == 0:
            return pd.Series([np.zeros(num_hashes, dtype=np.int64)] * len(shs))
        flat = np.concatenate([np.asarray(a, dtype=np.int64) for a in shs])
        flat = flat.astype(np.uint64)
        offsets = np.concatenate(([0], np.cumsum(lens)[:-1]))
        mins = np.empty((len(lens), num_hashes), dtype=np.uint64)
        with np.errstate(over="ignore"):
            for h in range(num_hashes):          # wraps mod 2^64 (intended)
                mins[:, h] = np.minimum.reduceat(flat * A[h] + B[h], offsets)
        mins = mins.astype(np.int64)
        return pd.Series(list(mins))

    _SIG_UDFS[num_hashes] = _sig
    return _sig


def _shingle_sets_and_signatures(df: DataFrame, id_col: str, text_col: str,
                                 num_hashes: int, shingle_k: int
                                 ) -> tuple[DataFrame, DataFrame]:
    """(sets, sigs): the persisted (id, shs) shingle sets, and the
    (id, sig) MinHash signatures of the non-empty ones.  The persist is
    what keeps the empty-set filter above the tokenize pass: on a lazy
    frame Catalyst pushes it below spread()'s repartition and inlines the
    whole shingle expression (the tokenize chain ~6x) into a single-task
    Filter before the shuffle: warm over sf0.1's 5k docs on 4 cores,
    1.0-1.8 s against 0.7-0.8 s for this shape."""
    sets_ = shingle_hashes(df, id_col, text_col, shingle_k).persist()
    sigs = (sets_.filter(F.size("shs") > 0)
            .select(F.col(id_col),
                    _signature_udf(num_hashes)(F.col("shs")).alias("sig")))
    return sets_, sigs


def minhash_signature(df: DataFrame, id_col: str, text_col: str,
                      num_hashes: int = 64, shingle_k: int = 3) -> DataFrame:
    """(id, sig: array<bigint>) — MinHash signature over distinct k-token
    shingles.  Documents with no shingles (< k tokens) are dropped — an
    empty-set sentinel signature would collide every empty doc into every
    band bucket (quadratic pair blowup); route empties to exact dedup
    instead."""
    return _shingle_sets_and_signatures(df, id_col, text_col, num_hashes,
                                        shingle_k)[1]


def lsh_candidate_pairs(sig_df: DataFrame, id_col: str,
                        bands: int = 16,
                        max_bucket_size: int | None = 10_000,
                        sig_len: int | None = None) -> DataFrame:
    """(id_a, id_b) candidate pairs: docs whose signatures agree on at
    least one full band.  Pairs come only from inside (band_id,
    band_hash) buckets.  max_bucket_size drops degenerate buckets (e.g.
    the empty-document signature) that would otherwise produce quadratic
    pair blowup — the skew guard a 100TB run needs; dropped buckets are
    by definition huge duplicate classes better handled by exact dedup
    first."""
    if sig_len is None:
        # Fallback probe (runs a job): prefer passing sig_len explicitly.
        first = sig_df.select(F.size("sig").alias("n")).head(1)
        if not first:
            return (sig_df.select(F.col(id_col).alias("id_a"))
                    .withColumn("id_b", F.col("id_a")).limit(0))
        sig_len = first[0].n
    rows_per_band = sig_len // bands
    # Band hash = one flat xxhash64 over the band's signature positions —
    # direct element references, no slice/stringify detour.  Built as ONE
    # SQL expression string: the per-column API form costs ~100 py4j
    # round-trips (bands x (seed + rows) calls), ~350 ms of pure plan
    # construction per query at 16x4 (measured); one expr() parse is
    # server-side and O(1) round-trips.
    band_exprs = ", ".join(
        f"xxhash64({b}, "
        + ", ".join(f"sig[{b * rows_per_band + r}]"
                    for r in range(rows_per_band)) + ")"
        for b in range(bands))
    banded = sig_df.select(
        F.col(id_col),
        F.posexplode(F.expr(f"array({band_exprs})"))
        .alias("band_id", "band_hash"))
    # One pass over the banded rows: a groupBy on (band_id, band_hash)
    # collects each bucket's sorted member ids, the size guard drops
    # singletons and degenerate buckets, and the pairs explode out of
    # each kept bucket.  A window count plus a self-join evaluated the
    # signature UDF and the bucket window once per join side (measured
    # on neardup_minhash's executed plan: ArrowEvalPython 2 -> 1, Window
    # 2 -> 0, shuffles 3 -> 2).  Members are distinct and sorted, so
    # those after position i pair with member i as id_b > id_a.
    ids = F.col("__ids")
    guard = F.size(ids) > 1
    if max_bucket_size is not None:
        guard = guard & (F.size(ids) <= max_bucket_size)
    return (banded.groupBy("band_id", "band_hash")
            .agg(F.array_sort(F.collect_set(id_col)).alias("__ids"))
            .filter(guard)
            .select(ids, F.posexplode(ids).alias("__i", "id_a"))
            .select("id_a", F.explode(F.slice(ids, F.col("__i") + 2,
                                              F.size(ids))).alias("id_b"))
            .distinct())


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two string arrays (assumed distinct)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def neardup_minhash(df: DataFrame, id_col: str, text_col: str,
                    threshold: float = 0.8, num_hashes: int = 64,
                    bands: int = 16, shingle_k: int = 3) -> DataFrame:
    """Near-duplicate pairs (id_a, id_b, jaccard) with exact shingle
    Jaccard >= threshold, found via MinHash+LSH candidates only.

    Recall at threshold t with b bands of r rows is 1-(1-t^r)^b; the
    16x4 default gives ~0.9998 at t=0.8 — and exact Jaccard re-scoring on
    candidates removes LSH false positives entirely, so the output equals
    the all-pairs answer with near-certainty at ~O(n) cost."""
    # The shingle sets feed both the signatures and the exact re-score:
    # persisted so the tokenize+shingle+hash pass runs once, not twice.
    sets_, sigs = _shingle_sets_and_signatures(df, id_col, text_col,
                                               num_hashes, shingle_k)
    cands = lsh_candidate_pairs(sigs, id_col, bands, sig_len=num_hashes)
    # Exact Jaccard over hashed shingle sets: same value as over the
    # string sets (hashing is set-size-preserving), integer comparisons.
    a = sets_.select(F.col(id_col).alias("id_a"), F.col("shs").alias("__sa"))
    b = sets_.select(F.col(id_col).alias("id_b"), F.col("shs").alias("__sb"))
    return (cands.join(a, "id_a").join(b, "id_b")
            .select("id_a", "id_b",
                    F.round(jaccard(F.col("__sa"), F.col("__sb")), 4)
                    .alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))


def neardup_clusters(ids: DataFrame, pairs: DataFrame,
                     id_col: str = "doc_id", max_iters: int = 20,
                     driver_max_edges: int = 1_000_000) -> DataFrame:
    """Duplicate-cluster assignment: connected components over the
    near-dup pair graph, so "keep one document per duplicate cluster"
    becomes a filter on is_canonical.  Returns (id_col, cluster_id,
    is_canonical) for EVERY input id (singletons are their own cluster).

    Algorithm: iterative min-label propagation (each round every node
    takes the min label among itself and its neighbors) under
    plans.iterate — rounds = component diameter.  Near-dup components are
    tiny chains, so this converges in a handful of rounds; convergence is
    detected by the strictly-decreasing label sum, and max_iters bounds
    pathological graphs.  Per round: one join + one groupBy-min — the
    standard large-graph CC shape (no driver-side graph, no recursion
    depth limit)."""
    # Iterate ONLY over nodes that appear in some pair: the duplicate
    # graph is a small fraction of the corpus (that's the point of
    # dedup), so propagation touches |edges| rows per round, not |corpus|
    # — singletons are attached at the end with label = own id.
    #
    # Strategy switch on graph size (the kmeans-centroid precedent — a
    # bounded collect is legitimate): a graph of at most driver_max_edges
    # skinny (id_a, id_b) rows fits trivially on the driver and
    # union-find resolves it in one pass, replacing diameter-many join
    # rounds; above it, distributed min-label propagation takes over.
    # One bounded collect both takes the edges and tells the two apart —
    # a count() first ran the pair pipeline twice (or paid a persist).
    edges_local = pairs.select("id_a", "id_b").limit(driver_max_edges + 1) \
        .collect()
    small = len(edges_local) <= driver_max_edges
    # Observability (the r3 bench moved 0.69->3.07 s on a dirtier data
    # drop with no code change): the edge count IS the cost driver, so
    # print it where bench stderr captures it — a runtime regression
    # with a flat edge count is plan drift; with a grown edge count it
    # is the data.
    n_edges = len(edges_local) if small else f">{driver_max_edges}"
    strategy = "driver-union-find" if small else "min-label-propagation"
    print(f"[neardup_clusters] n_edges={n_edges} strategy={strategy}",
          file=_sys.stderr)
    if small:
        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != x:
                parent[x], x = r, parent[x]
            return r

        for a, b in edges_local:
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by min-label so the root IS the cluster id
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        # A local relation: the labels ride in the plan, so the broadcast
        # below runs no Python tasks (a pickled-RDD createDataFrame cost
        # 1.4 s cold here).
        cur = local_frame(ids.sparkSession, [(x, find(x)) for x in parent],
                          "id BIGINT, lbl BIGINT")
        everyone = ids.select(F.col(id_col).alias("id"))
        labeled = (everyone.join(F.broadcast(cur), "id", "left")
                   .select("id", F.coalesce("lbl", F.col("id")).alias("lbl")))
        return labeled.select(
            F.col("id").alias(id_col),
            F.col("lbl").alias("cluster_id"),
            (F.col("id") == F.col("lbl")).alias("is_canonical"))
    # Materialize the edge list before iterating: every propagation round
    # joins against it, and without a persist each round would re-execute
    # the entire upstream pair-generation pipeline (for MinHash pairs,
    # ~6 rounds x the full LSH pass — measured 9s vs 1.6s at sf0.1).  The
    # standard iterative-graph idiom: cache the edges, iterate the labels.
    # Both directions come out of one read of `pairs`, so the pair
    # pipeline runs once more here, not once per direction.
    edges = (pairs.select(F.inline(F.array(
        F.struct(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
        F.struct(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))))
        .persist())
    cur = (edges.select(F.col("src").alias("id")).distinct()
           .withColumn("lbl", F.col("id")))

    def label_sum(df: DataFrame) -> int:
        return df.agg(F.sum("lbl")).first()[0] or 0

    # Explicit subop.loop-shaped iteration (cf. plans.iterate) carrying
    # the previous round's label sum, so convergence costs ONE tiny agg
    # per round instead of re-summing both frames; labels only decrease,
    # so equal consecutive sums == fixpoint.  Lineage is truncated every
    # 3 rounds (plan depth stays O(1)) — reliable checkpoint when the
    # session has a checkpoint dir, localCheckpoint otherwise.
    prev_sum = label_sum(cur)
    for i in range(max_iters):
        nbr = (edges.join(cur, edges.src == cur.id)
               .select(F.col("dst").alias("id"), F.col("lbl")))
        nxt = (cur.select("id", "lbl").union(nbr)
               .groupBy("id").agg(F.min("lbl").alias("lbl")))
        if (i + 1) % 3 == 0:
            nxt = truncate_lineage(nxt, eager=True)
        cur_sum = label_sum(nxt)
        cur = nxt
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    everyone = ids.select(F.col(id_col).alias("id"))
    labeled = (everyone.join(cur, "id", "left")
               .select("id", F.coalesce("lbl", F.col("id")).alias("lbl")))
    return labeled.select(
        F.col("id").alias(id_col),
        F.col("lbl").alias("cluster_id"),
        (F.col("id") == F.col("lbl")).alias("is_canonical"))


def winnow_fingerprints(df: DataFrame, id_col: str, text_col: str,
                        shingle_k: int = 3, window: int = 4,
                        hash_fn: str = "md5") -> DataFrame:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 — the
    MOSS algorithm): hash every k-gram, slide a w-window over the hash
    sequence, keep each window's MINIMUM — guaranteeing any shared run of
    w+k-1 tokens between two documents shares at least one selected
    fingerprint.  The partial-overlap detector exact dedup and whole-set
    Jaccard both miss (a paragraph copied into an otherwise-new document).

    Returns (id, fp) exploded pairs — the join-ready shape.  Positional
    k-gram hashes (duplicates preserved, unlike shingle_hashes' distinct
    sets) come straight off the token array; everything is JVM higher-
    order expressions, no shuffle.  The window-min order is the k-gram's
    md5 HEX STRING: md5 exists bit-identically in every engine (the
    DuckDB oracle re-derives the exact fingerprint selection), at the
    price of ~10x the hashing cost of xxhash64 — pass
    hash_fn="xxhash64" when cross-engine verifiability doesn't matter
    (the min-selection differs but the winnowing recall bound holds for
    any hash; measured ~8x faster on the sparse-corpus probe)."""
    # The upstream array is MATERIALIZED (barrier) before the
    # gram chain: every reference to an upstream alias — whether inside
    # a higher-order lambda body or as a zip_with argument — can be
    # inlined by Catalyst straight through projections and exchanges
    # and re-evaluated per reference (per ELEMENT inside lambdas),
    # which made this pass O(n * k) in regexp tokenizations: measured
    # 30x on the sparse-corpus probe.
    # Grams build as a zip_with CHAIN of shifted copies (zip_with
    # arguments evaluate once per row, never per element).  Tail
    # positions past n-k+1 are dropped ONLY by the explicit slice
    # below: in md5 mode they do go NULL (concat null-propagates), but
    # xxhash64 IGNORES null arguments, so in xxhash64 mode the tail
    # holds partial-gram hashes — the slice is the sole guard there,
    # never "redundant" (fingerprint-count-per-doc pinned by test).
    if hash_fn == "xxhash64":
        # hash each token in the SAME projection as tokenization (a
        # transform's TARGET evaluates once per row — only lambda-body
        # references re-evaluate), so the checkpoint pins 8-byte hash
        # arrays instead of token strings; windows then combine
        # hash-of-hashes, no per-window string building (a different
        # fingerprint selection than md5 mode, which winnowing's
        # recall bound is indifferent to)
        toked = barrier(spread(df.select(
            F.col(id_col),
            F.transform(tokens(text_col),
                        lambda s: F.xxhash64(s)).alias("__t")),
            id_col))
        t, n = F.col("__t"), F.size("__t")
        gram_h = t
        for j in range(1, shingle_k):
            gram_h = F.zip_with(gram_h, F.slice(t, j + 1, n),
                                lambda a, b: F.xxhash64(a, b))
    else:
        toked = barrier(spread(df.select(
            F.col(id_col), tokens(text_col).alias("__t")),
            id_col))
        t, n = F.col("__t"), F.size("__t")
        joined = t
        for j in range(1, shingle_k):
            joined = F.zip_with(joined, F.slice(t, j + 1, n),
                                lambda a, b: F.concat(a, F.lit(" "), b))
        gram_h = F.transform(joined, lambda s: F.md5(s.cast("binary")))
    hashed = (toked.select(
        F.col(id_col),
        F.slice(gram_h, F.lit(1),
                F.greatest(n - shingle_k + 1, F.lit(0))).alias("__h"))
        .filter(F.size("__h") >= window))
    # barrier: the per-window min below slices __h inside a lambda
    # (inherently per-element) — without a materialization the
    # whole gram chain would re-execute per window position.
    # Gram hashes are ~8 B/token (xxhash64) — the cheapest frame
    # in the pass to pin.
    hashed = barrier(hashed)
    mins = F.array_distinct(F.transform(
        F.sequence(F.lit(1), F.size("__h") - window + 1),
        lambda i: F.array_min(F.slice("__h", i, window))))
    return (hashed.select(F.col(id_col), F.explode(mins).alias("fp")))


def overlap_pairs(fps: DataFrame, id_col: str, min_shared: int = 8,
                  max_fp_freq: int = 1000) -> DataFrame:
    """(id_a, id_b, shared) for documents sharing >= min_shared winnowed
    fingerprints.  Same candidate discipline as LSH: pairs are generated
    ONLY inside fingerprint buckets, ubiquitous fingerprints (boilerplate
    shared by > max_fp_freq docs) are dropped before the self-join — the
    skew guard that keeps the pair count ~linear in true overlap."""
    freq = (fps.groupBy("fp").agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") <= max_fp_freq).select("fp"))
    pruned = fps.join(freq, "fp")
    a = pruned.select(F.col(id_col).alias("id_a"), "fp")
    b = pruned.select(F.col(id_col).alias("id_b"), "fp")
    return (a.join(b, "fp")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("shared"))
            .filter(F.col("shared") >= min_shared))


# --- SimHash ---------------------------------------------------------------

_SIMHASH_BITS = 64


def _simhash_one(toks) -> int:
    v = [0] * _SIMHASH_BITS
    for t in toks:
        # md5[:8] (not blake2b) so external systems — and the DuckDB
        # oracle — can recompute the signature bit-for-bit from SQL.
        h = int.from_bytes(hashlib.md5(t.encode("utf-8")).digest()[:8], "big")
        for i in range(_SIMHASH_BITS):
            v[i] += 1 if (h >> i) & 1 else -1
    out = 0
    for i in range(_SIMHASH_BITS):
        if v[i] > 0:
            out |= 1 << i
    return _struct.unpack("<q", _struct.pack("<Q", out))[0]  # as signed i64


_SIMHASH_UDF = None


def simhash(tokens_col: Column) -> Column:
    """64-bit SimHash of a token array — Arrow-batched pandas UDF (the
    per-token bit loop has no fixed-width JVM expression form).  Signed
    i64 so it round-trips through Spark/parquet."""
    global _SIMHASH_UDF
    if _SIMHASH_UDF is None:
        @F.pandas_udf("long")
        def _simhash_udf(s: pd.Series) -> pd.Series:
            # elements arrive as numpy arrays (no truthiness) — test None
            return s.map(
                lambda toks: _simhash_one(toks if toks is not None else []))
        _SIMHASH_UDF = _simhash_udf
    return _SIMHASH_UDF(tokens_col)


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two signed-i64 signatures (JVM-side)."""
    return F.bit_count(a.bitwiseXOR(b))


def neardup_simhash(df: DataFrame, id_col: str, text_col: str,
                    max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= max_hamming.
    Candidate generation: split the 64-bit signature into 4 x 16-bit
    chunks; by pigeonhole any pair within Hamming distance 3 agrees on at
    least one chunk, so an equi-join per chunk finds every such pair
    without an all-pairs scan."""
    sh = df.select(F.col(id_col), simhash(tokens(text_col)).alias("sh"))
    chunks = sh.select(
        id_col, "sh",
        F.posexplode(F.array(*[
            F.shiftright(F.col("sh"), 16 * i).bitwiseAND(F.lit(0xFFFF))
            for i in range(4)])).alias("chunk_id", "chunk"))
    a = chunks.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"),
                      "chunk_id", "chunk")
    b = chunks.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"),
                      "chunk_id", "chunk")
    return (a.join(b, ["chunk_id", "chunk"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b",
                    hamming64(F.col("sh_a"), F.col("sh_b")).alias("hamming"))
            .distinct()
            .filter(F.col("hamming") <= max_hamming))


def neardup_ngram_jaccard(df: DataFrame, id_col: str, text_col: str,
                          threshold: float = 0.6, shingle_k: int = 3,
                          max_shingle_freq: int = 1000) -> DataFrame:
    """EXACT n-gram Jaccard near-duplicate pairs — no signatures, no
    probability: |A∩B| is counted by a shared-shingle bucket join and
    |A∪B| = |A|+|B|-|A∩B|, so the reported jaccard is the true value and
    recall is 100% down to the frequency prune.  The candidate discipline
    is the same as LSH/winnowing: pairs exist ONLY inside shingle buckets
    and shingles shared by more than max_shingle_freq documents
    (boilerplate) are dropped before the self-join — candidates stay
    ~linear in true overlap instead of O(n^2).

    Versus MinHash (neardup_minhash): exact but heavier — every shared
    shingle contributes a bucket row, where MinHash caps work at the
    signature length.  Use this below ~10^8 docs per shard or when the
    threshold sits too close to a decision boundary for sketch error.
    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard rounded to 4.

    RECALL CAVEAT: the reported jaccard VALUES are exact, but the
    frequency prune bounds recall rather than preserving it — a
    near-pair ALL of whose shared shingles exceed max_shingle_freq
    (pure-boilerplate overlap) loses every candidate bucket and is
    silently missed.  The guarantee is 'every pair with at least one
    sub-cap shared shingle'; watch the `ngram_pruned_shingles`
    observe() metric — nonzero pruning at scale means recall has
    narrowed to that class.
    """
    toked = spread(df.select(F.col(id_col), tokens(text_col).alias("__t")),
                   id_col)
    sh = toked.select(F.col(id_col),
                      shingles(F.col("__t"), shingle_k).alias("__sh"))
    sh = sh.filter(F.size("__sh") > 0)
    sizes = sh.select(F.col(id_col), F.size("__sh").alias("__sz"))
    ex = sh.select(F.col(id_col), F.explode("__sh").alias("__s"))
    shingle_counts = (ex.groupBy("__s").agg(F.count(F.lit(1)).alias("__n"))
                      .observe("ngram_pruned_shingles",
                               F.sum(F.when(F.col("__n") > max_shingle_freq,
                                            1).otherwise(0))
                               .alias("pruned_shingles")))
    keep = shingle_counts.filter(F.col("__n") <= max_shingle_freq).select("__s")
    pruned = ex.join(keep, "__s")
    a = pruned.select(F.col(id_col).alias("id_a"), "__s")
    b = pruned.select(F.col(id_col).alias("id_b"), "__s")
    inter = (a.join(b, "__s")
             .filter(F.col("id_a") < F.col("id_b"))
             .groupBy("id_a", "id_b")
             .agg(F.count(F.lit(1)).alias("__i")))
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("__sz").alias("__sza"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("__sz").alias("__szb"))
    jac = (inter.join(sa, "id_a").join(sb, "id_b")
           .withColumn("jaccard",
                       F.col("__i").cast("double")
                       / (F.col("__sza") + F.col("__szb") - F.col("__i")))
           .filter(F.col("jaccard") >= threshold)
           .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard")))
    return jac


def decontaminate(train: DataFrame, evalset: DataFrame, id_col: str,
                  text_col: str, shingle_k: int = 5) -> DataFrame:
    """Train/eval DECONTAMINATION — the benchmark-leakage stage of an
    LLM data pipeline (GPT-3/PaLM-style n-gram collision filtering):
    flag every training document sharing at least one k-token shingle
    with any document of the evaluation set, with the exact collision
    count and one witness example id.

    Unlike the symmetric near-dup family this is asymmetric CONTAINMENT:
    a train doc that merely embeds one benchmark sentence must flag even
    at ~0 Jaccard.  Shape: the eval side's distinct shingles are the
    (small) build side of an equi-join on the shingle — at 100 TB the
    train side streams through one shuffle keyed by shingle (or a
    broadcast when the benchmark suite fits, as real ones do); no
    pairwise comparison anywhere.

    Returns (id, n_collisions, n_eval_docs, example_eval_id) for flagged
    train docs only; exact by construction (no frequency prune — the
    eval side is curated and small, boilerplate shingles in IT are
    legitimate flags)."""
    t_sh = (train.select(F.col(id_col),
                         shingles(tokens(text_col), shingle_k).alias("__s"))
            .select(id_col, F.explode("__s").alias("__sh"))
            .distinct())
    e_sh = (evalset.select(F.col(id_col).alias("__eid"),
                           shingles(tokens(text_col), shingle_k).alias("__s"))
            .select("__eid", F.explode("__s").alias("__sh"))
            .distinct())
    hits = t_sh.join(e_sh, "__sh")
    return (hits.groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_collisions"),
                 F.countDistinct("__eid").alias("n_eval_docs"),
                 F.min("__eid").alias("example_eval_id")))


# ---------------------------------------------------------------------------
# Exact-substring duplicate spans (the Lee et al. 2022 "Deduplicating
# Training Data Makes Language Models Better" primitive: find every
# maximal character range whose length->= L content occurs more than
# once in the corpus, so the spans can be cut or the doc dropped).
# ---------------------------------------------------------------------------

def exact_substring_spans(df: DataFrame, id_col: str, text_col: str,
                          min_len: int = 30,
                          dup_mode: str = "agg") -> DataFrame:
    """Maximal duplicated character spans: every position whose
    `min_len`-gram occurs >1 time in the corpus (any doc, any offset) is
    duplicated; overlapping/adjacent duplicated windows merge into
    maximal spans per document.  Returns (id, span_start, span_end)
    with 1-based inclusive bounds — exactly the ranges an
    exact-substring cut pass would remove.

    Plan shape (all JVM expressions, no UDF):
      1. gram generation: sequence+transform+posexplode — a width-L
         sliding window per document (the L x blowup a suffix-array
         build also pays in pointers), spread across cores first, kept
         as 8-byte xxhash64 values + positions (the gram STRING never
         shuffles in the common path);
      2. duplicate-hash detection: one hash shuffle on the 64-bit gram
         hash, keeping hashes seen >1 time;
      3. exact verification: ONLY candidate positions (their hash
         collided) regenerate their gram text — a substring() against
         the re-joined document text — and an exact GROUP BY the text
         eliminates xxhash64 collisions, so the result is exact, never
         probabilistic;
      4. span merge: per-document gaps-and-islands window (partitioned
         by doc — never a global sort).
    100 TB posture: the wide shuffles carry (id, pos, hash8) — ~16
    bytes per corpus character; the exact-verify join touches only the
    duplicate-candidate subset.  To cut the L x generation itself,
    run the winnow_fingerprints prefilter first to restrict this pass
    to documents sharing any fingerprint (recall >= window+k-1 by
    winnowing's bound)."""
    from pyspark.storagelevel import StorageLevel
    L = int(min_len)
    texts = spread(df.filter(F.length(text_col) >= L), id_col) \
        .select(id_col, text_col)
    # hashed grams: (id, pos, h) — never materializes the gram string
    # past the map side of the first shuffle
    hashed = (
        texts.select(
            F.col(id_col),
            F.posexplode(F.expr(
                f"transform(sequence(1, length({text_col}) - {L} + 1), "
                f"i -> xxhash64(substring({text_col}, i, {L})))"
            )).alias("__p0", "__h"))
        .select(id_col, (F.col("__p0") + 1).alias("__pos"), "__h"))
    # Duplicate-cut plan choice (r14 opt round, measured interleaved at
    # sf0.1): "agg" (groupBy+join per cut, corpus persists) wins on the
    # FULL-corpus pass; "window" (count() over a hash-partition window
    # per cut — one exchange, no persist) wins 35% on the prefiltered
    # composition, whose candidate-sized input makes the stage count,
    # not bytes, the cost.  Callers pick per call site; LDB_SPANS_DUP
    # is the A/B override (tools/spans_mode_ab_probe.py).
    if _os.environ.get("LDB_SPANS_DUP", dup_mode) == "window":
        return _spans_window_mode(texts, hashed, id_col, text_col, L)
    hashed = hashed.persist(StorageLevel.MEMORY_AND_DISK)
    # Every join below is pinned to a SHUFFLE strategy: the build sides
    # (duplicated hashes, duplicated gram texts, the document texts)
    # all GROW WITH DUPLICATION, so an estimate-driven broadcast is a
    # scale hazard — at the 100x worst case the planner broadcast an
    # 8.7 GiB candidate side and died on the 8 GiB cap.  With the
    # shuffle pin the same pass completes; tiny inputs still finish in
    # the oracle-gate noise.
    dup_h = (hashed.groupBy("__h").agg(F.count(F.lit(1)).alias("__n"))
             .filter(F.col("__n") > 1).select("__h")
             .hint("shuffle_hash"))
    cand = hashed.join(dup_h, "__h").select(id_col, "__pos")
    # exact verification: regenerate candidate gram text from the doc
    # and keep only text-level duplicates (xxhash64 collision killer).
    # cand_g feeds BOTH the dup_g aggregate and the marked join —
    # persist it (candidate-sized, not corpus-sized) or the candidate
    # join + substring regeneration runs twice (measured 2x at sf0.1)
    cand_g = (cand.join(texts.hint("shuffle_hash"), id_col)
              .select(id_col, "__pos",
                      F.expr(f"substring({text_col}, __pos, {L})")
                      .alias("__g"))
              .persist(StorageLevel.MEMORY_AND_DISK))
    dup_g = (cand_g.groupBy("__g").agg(F.count(F.lit(1)).alias("__n"))
             .filter(F.col("__n") > 1).select("__g")
             .hint("shuffle_hash"))
    # materialize `marked` eagerly (barrier — it is
    # duplicate-candidate-sized, far below the corpus-sized frames
    # above) so the two corpus-scale persisted frames can be RELEASED
    # here instead of accumulating executor storage across calls
    # (substring_dup_stats / the training-mix journey each re-enter
    # this function; without the unpersist every call pinned a new
    # corpus-sized gram cache until something external called
    # clearCache).  If marked's own blocks are later evicted it
    # recomputes from lineage — slower (upstream caches released),
    # never wrong.
    marked = barrier(cand_g.join(dup_g, "__g").select(id_col, "__pos"),
                     eager=True)
    hashed.unpersist()
    cand_g.unpersist()
    return _spans_islands(marked, id_col, L)


def _spans_islands(marked: DataFrame, id_col: str, L: int) -> DataFrame:
    """Span merge (step 4): per-document gaps-and-islands window over
    the verified duplicate positions — partitioned by doc, never a
    global sort."""
    w = Window.partitionBy(id_col).orderBy("__pos")
    prev_max = F.max("__pos").over(
        w.rowsBetween(Window.unboundedPreceding, -1))
    brk = F.when(prev_max.isNull()
                 | (F.col("__pos") > prev_max + L), 1).otherwise(0)
    island = F.sum(brk).over(w.rowsBetween(Window.unboundedPreceding, 0))
    return (marked.withColumn("__isl", island)
            .groupBy(id_col, "__isl")
            .agg(F.min("__pos").alias("span_start"),
                 (F.max("__pos") + L - 1).alias("span_end"))
            .select(id_col,
                    F.col("span_start").cast("long").alias("span_start"),
                    F.col("span_end").cast("long").alias("span_end")))


def _spans_window_mode(texts: DataFrame, hashed: DataFrame, id_col: str,
                       text_col: str, L: int) -> DataFrame:
    """Stage-fused dup detection (r14 opt round, guide §2.3): both
    duplicate cuts (hash level and exact-text level) as WINDOW counts
    instead of agg + shuffle-join pairs.  Each cut becomes ONE hash
    exchange + per-partition sort of the stream it filters, where the
    agg form shuffled the same stream twice (once into the partial
    aggregate, once into the join probe) and had to PERSIST it to
    avoid recomputation — window mode reads every frame once, so the
    two corpus-sized persists (and the eager barrier that existed only
    to release them) disappear with the extra exchanges.  The kept
    rows are identical (count > 1 per key either way), so spans are
    row-identical to agg mode.  Join-strategy hazard note: the only
    join left is the candidate-text regeneration join, which keeps the
    shuffle pin (both sides grow with duplication — see the agg-mode
    comment)."""
    wh = Window.partitionBy("__h")
    cand = (hashed.withColumn("__n", F.count(F.lit(1)).over(wh))
            .filter(F.col("__n") > 1).select(id_col, "__pos"))
    cand_g = (cand.join(texts.hint("shuffle_hash"), id_col)
              .select(id_col, "__pos",
                      F.expr(f"substring({text_col}, __pos, {L})")
                      .alias("__g")))
    wg = Window.partitionBy("__g")
    marked = (cand_g.withColumn("__n", F.count(F.lit(1)).over(wg))
              .filter(F.col("__n") > 1).select(id_col, "__pos"))
    return _spans_islands(marked, id_col, L)


def exact_substring_spans_prefiltered(
        df: DataFrame, id_col: str, text_col: str, min_len: int = 30,
        shingle_k: int = 3, window: int = 4,
        hash_fn: str = "md5") -> DataFrame:
    """The corpus-scale composition documented in exact_substring_spans:
    run winnow_fingerprints first and restrict the L x gram pass to
    documents that share at least one fingerprint with another document
    — on a realistically duplication-sparse corpus that is a sliver, so
    the per-character gram generation (the full pass's one unavoidable
    corpus-sized cost) is paid only where duplication is possible.

    Recall bound (Schleimer et al., SIGMOD'03): any duplicated run of
    >= window + shingle_k - 1 TOKENS shares a selected fingerprint, so
    every such span survives the prefilter; a duplicated character span
    shorter than that in tokens can be missed — the deliberate tradeoff
    versus the exhaustive pass.  Within the candidate set the span
    detection itself stays exact (hash prefilter + text verification).

    Plan shape: fingerprints are per-doc JVM expressions (no shuffle),
    the shared-fp filter is one hash aggregate on the fingerprint, the
    candidate-id semi-join prunes the corpus BEFORE any gram explodes.
    Spans between a candidate and a pruned document cannot exist (the
    pruned doc shares no fingerprint with anything)."""
    # fps is read twice below (aggregate build side + semi-join probe
    # side) — barrier the ~16 B/row pair stream once so the explode
    # doesn't re-execute per read (a windowed count over fp would be
    # single-pass but plans a full sort of the stream: measured 2x
    # worse than agg + broadcast join on the materialized frame)
    fps = barrier(winnow_fingerprints(df, id_col, text_col, shingle_k,
                                      window, hash_fn))
    shared = (fps.groupBy("fp").agg(F.count(F.lit(1)).alias("__n"))
              .filter(F.col("__n") > 1).select("fp"))
    # candidate ids are doc-count-bounded; the barrier pins them so
    # the winnow pass runs ONCE (the span pass reads its text frame
    # twice — without this the whole fingerprint subtree re-executed
    # per read, measured 3x)
    cand_ids = barrier(fps.join(shared, "fp").select(id_col).distinct())
    return exact_substring_spans(
        df.join(cand_ids, id_col), id_col, text_col, min_len,
        dup_mode="window")


def substring_dup_stats(df: DataFrame, id_col: str, text_col: str,
                        min_len: int = 30) -> DataFrame:
    """Per-document duplicated-character budget from
    exact_substring_spans: (id, n_chars, dup_chars).  Integer outputs
    only so the cross-engine compare is exact; callers filter with
    integer math (dup_chars * 100 > n_chars * pct) — the
    drop-heavy-duplication policy stage of a training-data pipeline."""
    spans = exact_substring_spans(df, id_col, text_col, min_len)
    per_doc = (spans.groupBy(id_col)
               .agg(F.sum(F.col("span_end") - F.col("span_start") + 1)
                    .alias("dup_chars")))
    return (df.select(F.col(id_col),
                      F.length(text_col).cast("long").alias("n_chars"))
            .join(per_doc, id_col, "left")
            .fillna({"dup_chars": 0})
            .select(id_col, "n_chars",
                    F.col("dup_chars").cast("long").alias("dup_chars")))


def cut_substring_spans(df: DataFrame, spans: DataFrame, id_col: str,
                        text_col: str) -> DataFrame:
    """The CUT pass completing exact-substring dedup (Lee et al. 2022):
    remove the given character ranges from each document and splice the
    remainder.  `spans` is exact_substring_spans output — per-doc
    non-overlapping, merged (span_start/span_end 1-based inclusive).

    All-JVM: spans collect per doc into a sorted array (bounded — spans
    are merged-maximal so there are at most len/L of them), then one
    `aggregate()` lambda folds a cursor over the array building the
    kept text.  Documents with no spans pass through untouched.  No
    shuffle beyond the one groupBy(id) + join — at 100 TB this is a
    co-partitioned join on the document id."""
    sp = (spans.groupBy(id_col)
          .agg(F.array_sort(F.collect_list(F.struct(
              F.col("span_start").alias("s"),
              F.col("span_end").alias("e")))).alias("__spans")))
    j = df.join(sp, id_col, "left")
    folded = F.expr(f"""
        aggregate(
          __spans,
          struct(CAST(1 AS BIGINT) AS cur, '' AS acc),
          (st, sp) -> struct(
              sp.e + CAST(1 AS BIGINT),
              concat(st.acc, substring({text_col}, CAST(st.cur AS INT),
                                       CAST(sp.s - st.cur AS INT)))),
          st -> concat(st.acc,
                       substring({text_col}, CAST(st.cur AS INT),
                                 length({text_col}) - CAST(st.cur AS INT)
                                 + 1)))""")
    cleaned = F.when(F.col("__spans").isNull(), F.col(text_col)) \
        .otherwise(folded)
    return j.select(id_col, cleaned.alias(text_col))
