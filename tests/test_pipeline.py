"""Tests for the LLM-pipeline operators: dedup semantics, MinHash/SimHash
behavior, LSH-ANN recall vs brute force, language-ID on constructed
snippets, and the scale-critical plan shapes (no cartesian products in
any candidate-generation path).
"""

from __future__ import annotations

from conftest import SF_DIR, explain_str
from pyspark.sql import functions as F

from lingo_db_spark import operators as ops
from lingo_db_spark import pipeline as pl
from lingo_db_spark.catalog import load_table


# --- dedup -----------------------------------------------------------------

def test_dedup_exact_keeps_lowest_tiebreak(spark):
    df = spark.createDataFrame(
        [(1, "x"), (2, "x"), (3, "y")], "id INT, t STRING")
    out = sorted(r.id for r in pl.dedup_exact(df, ["t"], "id").collect())
    assert out == [1, 3]


def test_fingerprint_normalization_invariant(spark):
    df = spark.createDataFrame(
        [("Hello,  World!",), ("hello world",), ("different text",)],
        "t STRING")
    fps = [r.fp for r in df.select(pl.fingerprint("t").alias("fp")).collect()]
    assert fps[0] == fps[1] != fps[2]


def test_minhash_finds_neardup_pair(spark):
    base = "the quick brown fox jumps over the lazy dog again and again " * 5
    near = base.replace("lazy", "sleepy", 1)
    other = "completely unrelated content about spark shuffles and joins " * 5
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, other)], "doc_id INT, text STRING")
    pairs = {(r.id_a, r.id_b) for r in
             pl.neardup_minhash(df, "doc_id", "text", threshold=0.5).collect()}
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)


def test_minhash_plan_has_no_cartesian_product(spark):
    docs = load_table(spark, SF_DIR, "documents")
    plan = explain_str(pl.neardup_minhash(docs, "doc_id", "text"), "formatted")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def _physical_nodes(df) -> dict[str, int]:
    """Node-class counts of df's physical plan, looking through AQE and
    query-stage wrappers (cached relations count as one scan node)."""
    from collections import Counter
    seen: Counter = Counter()

    def walk(node):
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            return walk(node.executedPlan())
        if cls.endswith("QueryStageExec"):
            return walk(node.plan())
        seen[cls] += 1
        children = node.children()
        for i in range(children.size()):
            walk(children.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return seen


def test_minhash_signature_udf_and_bucketing_run_once(spark):
    """LSH candidates come from one groupBy over the banded signatures:
    the signature UDF is evaluated once and no bucket window remains (a
    window count plus a self-join evaluated both once per join side)."""
    docs = load_table(spark, SF_DIR, "documents")
    nodes = _physical_nodes(pl.neardup_minhash(docs, "doc_id", "text"))
    assert nodes["ArrowEvalPythonExec"] == 1, nodes
    assert nodes["WindowExec"] == 0, nodes


def test_minhash_signature_tokenizes_once(spark):
    """The empty-set filter must not be pushed below spread()'s
    repartition: that inlines the whole tokenize chain into a
    single-task Filter ahead of the shuffle."""
    # an input no other test persists a shingle pass over, so the plan
    # cannot pick up another test's cached sets
    docs = load_table(spark, SF_DIR, "documents").where("doc_id % 2 = 0")
    sigs = pl.minhash_signature(docs, "doc_id", "text")
    plan = sigs._jdf.queryExecution().executedPlan().toString()
    assert plan.count("regexp_replace(") == 1, plan


def test_lsh_candidates_are_bucket_pairs_under_the_size_guard(spark):
    # 2 bands x 2 rows: band 0 puts {1,2,3} in one bucket, band 1 {1,4}
    sigs = spark.createDataFrame(
        [(1, [1, 1, 5, 5]), (2, [1, 1, 6, 6]), (3, [1, 1, 7, 7]),
         (4, [9, 9, 5, 5]), (5, [8, 8, 8, 8])],
        "doc_id BIGINT, sig ARRAY<BIGINT>")

    def cands(max_bucket_size):
        return sorted(tuple(r) for r in pl.lsh_candidate_pairs(
            sigs, "doc_id", bands=2, max_bucket_size=max_bucket_size,
            sig_len=4).collect())

    assert cands(None) == [(1, 2), (1, 3), (1, 4), (2, 3)]
    assert cands(3) == [(1, 2), (1, 3), (1, 4), (2, 3)]
    assert cands(2) == [(1, 4)]


def test_lsh_candidates_far_below_all_pairs(spark):
    docs = load_table(spark, SF_DIR, "documents")
    n = docs.count()
    sigs = pl.minhash_signature(docs, "doc_id", "text")
    n_cand = pl.lsh_candidate_pairs(sigs, "doc_id").count()
    assert n_cand < n * (n - 1) / 2 * 0.2, (
        f"{n_cand} candidate pairs vs {n*(n-1)//2} total — banding not selective")


def test_simhash_deterministic_and_locality(spark):
    base = "the quick brown fox jumps over the lazy dog " * 10
    near = base.replace("lazy", "sleepy")
    far = "totally different words everywhere in this one honestly " * 10
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, near), (4, far)], "id INT, t STRING")
    out = {r.id: r.sh for r in
           df.select("id", pl.simhash(pl.tokens("t")).alias("sh")).collect()}
    assert out[1] == out[2]                      # deterministic
    ham = df.select(
        pl.hamming64(F.lit(out[1]), F.lit(out[3])).alias("near"),
        pl.hamming64(F.lit(out[1]), F.lit(out[4])).alias("far")).collect()[0]
    assert ham.near < ham.far                    # locality-sensitive


def test_simhash_chunk_join_complete_for_small_distance(spark):
    # Pigeonhole guarantee: distance <= 3 pairs always share a 16-bit chunk.
    docs = load_table(spark, SF_DIR, "documents").limit(80)
    sh = docs.select("doc_id", pl.simhash(pl.tokens("text")).alias("sh"))
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sa"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sb"))
    brute = {(r.id_a, r.id_b) for r in
             a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
             .filter(pl.hamming64(F.col("sa"), F.col("sb")) <= 3).collect()}
    banded = {(r.id_a, r.id_b) for r in
              pl.neardup_simhash(docs, "doc_id", "text", max_hamming=3).collect()}
    assert brute == banded


# --- text analysis ----------------------------------------------------------

def test_tokens_and_shingles(spark):
    df = spark.createDataFrame([("Hello, World! Foo bar",)], "t STRING")
    out = df.select(
        pl.tokens("t").alias("toks"),
        pl.shingles(pl.tokens("t"), 3).alias("sh3"),
        pl.shingles(pl.tokens("t"), 9).alias("sh9")).collect()[0]
    assert out.toks == ["hello", "world", "foo", "bar"]
    assert out.sh3 == ["hello world foo", "world foo bar"]
    assert out.sh9 == []                      # shorter than k -> empty


def test_quality_score_bands(spark):
    good = ("this is a long and fluent paragraph about the engine and its "
            "operators which keeps going for quite a while to pass length ")
    bad = "x!!!???;;;"
    df = spark.createDataFrame([(good,), (bad,)], "t STRING")
    out = [r.q for r in df.select(pl.quality_score("t").alias("q")).collect()]
    assert out[0] == 1.0
    assert out[1] <= 0.25


def test_bpe_estimate_order_of_magnitude(spark):
    df = spark.createDataFrame([("hello world, 42 tokens!",)], "t STRING")
    est = df.select(pl.bpe_token_estimate("t").alias("e")).collect()[0].e
    # ceil(15/4 alpha) + 2 digits + 2 symbols = 4 + 2 + 2
    assert est == 8


def test_lang_id_on_constructed_snippets(spark):
    samples = [
        ("en", "the cat and the dog sat on the mat and it is warm"),
        ("de", "der hund und die katze sind nicht mit dem mann"),
        ("fr", "le chien et la maison est dans les champs pas une fois"),
        ("es", "el perro y los gatos es una casa que canta por la noche"),
        ("zh", "我们的数据引擎是很快"),
        ("und", "zzz qqq www rrr"),
    ]
    df = spark.createDataFrame(samples, "want STRING, t STRING")
    got = {r.want: r.pred for r in
           df.select("want", pl.lang_id("t").alias("pred")).collect()}
    assert got == {w: w for w, _ in samples}


# --- similarity search -------------------------------------------------------

def _emb_and_queries(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    base = emb.filter(F.col("vec_id") >= 5).select("vec_id", "embedding")
    q = (emb.filter(F.col("vec_id") < 5)
         .select(F.col("vec_id").alias("q_id"),
                 F.col("embedding").alias("q_vec")))
    return base, q


def test_lsh_index_geometry_mismatch_raises(spark):
    """An LSH index built with different hyperplanes joins semantically
    unrelated buckets — lsh_topk must DETECT the mismatch (r10 advice),
    not degrade silently."""
    import pytest
    base, q = _emb_and_queries(spark)
    params, buckets = ops.lsh_build(base, dim=64, n_planes=4,
                                    n_tables=16, seed=7)
    with pytest.raises(ValueError, match="geometry"):
        ops.lsh_topk(base, q, k=10, dim=64, n_planes=4, n_tables=16,
                     seed=42, index=(params, buckets))
    # matching geometry is accepted and returns k rows per query
    out = ops.lsh_topk(base, q, k=10, dim=64, n_planes=4, n_tables=16,
                       seed=7, index=(params, buckets))
    counts = {r.q_id: r.n for r in
              out.groupBy("q_id").agg(F.count(F.lit(1)).alias("n"))
              .collect()}
    assert set(counts) == {0, 1, 2, 3, 4} and set(counts.values()) == {10}


def test_pq_query_set_cap_raises(spark):
    """The PQ paths collect the query set to build driver-side LUTs; an
    unbounded queries frame must fail fast, not OOM (r10 advice)."""
    import pytest
    from lingo_db_spark.operators import similarity as sim
    base, q = _emb_and_queries(spark)
    old = sim.MAX_QUERY_ROWS
    sim.MAX_QUERY_ROWS = 3          # 5 queries > 3 cap
    try:
        with pytest.raises(ValueError, match="bounded-query-set"):
            ops.pq_topk(base, q, k=10, dim=64, m=16, n_codes=32,
                        rerank=64)
    finally:
        sim.MAX_QUERY_ROWS = old


def test_kmeanspp_init_deterministic_and_spread():
    """k-means++ seeding: deterministic under the seed, and on a
    two-cluster toy it must pick one seed from EACH cluster (uniform
    init picks two from the dense cluster with prob ~0.96 — the
    starvation failure the probe met)."""
    import numpy as np
    from lingo_db_spark.operators.similarity import (_kmeanspp_init,
                                                     _lloyd_train)
    rng = np.random.RandomState(0)
    dense = rng.normal(0, 0.01, size=(980, 8))
    far = rng.normal(50, 0.01, size=(20, 8))
    X = np.vstack([dense, far])
    seeds = _kmeanspp_init(X, 2, np.random.RandomState(42))
    assert ({bool(s[0] > 25) for s in seeds} == {True, False})
    a = _lloyd_train(X.copy(), 4, seed=42)
    b = _lloyd_train(X.copy(), 4, seed=42)
    assert np.array_equal(a, b)
    # every trained centroid owns at least one training point
    assign = (X @ a.T - 0.5 * (a * a).sum(axis=1)).argmax(axis=1)
    assert set(assign) == set(range(4))


def test_lsh_topk_recall_against_brute_force(spark):
    base, q = _emb_and_queries(spark)
    k = 10
    brute = {(r.q_id, r.vec_id) for r in
             ops.brute_force_topk(base, q, k=k).collect()}
    approx = {(r.q_id, r.vec_id) for r in
              ops.lsh_topk(base, q, k=k, dim=64,
                           n_planes=4, n_tables=16).collect()}
    recall = len(brute & approx) / len(brute)
    assert recall >= 0.9, f"LSH recall {recall:.2f} < 0.9"


def test_exact_substring_spans_recovers_planted_boilerplate(spark):
    """Documents sharing a planted 59-char boilerplate tail must each
    report a duplicated span COVERING that tail; a unique random-ish
    text with no >= L-char repeat reports nothing.  Bounds are 1-based
    inclusive and merged-maximal (adjacent windows coalesce)."""
    base = [(i, f"unique prefix number {i} with distinct words "
                f"{i * 7919 % 104729} {i * 104729 % 7919} end")
            for i in range(8)]
    plant = " SHARED BOILERPLATE SENTENCE THAT IS WELL OVER THIRTY CHARS"
    rows = [(i, t + plant) if i % 2 == 0 else (i, t) for i, t in base]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    spans = {r.doc_id: (r.span_start, r.span_end)
             for r in pl.exact_substring_spans(
                 df, "doc_id", "text", min_len=30).collect()}
    for i, t in rows:
        if i % 2 == 0:
            start, end = spans[i]
            tail_start = len(t) - len(plant) + 1      # 1-based
            assert start <= tail_start and end == len(t), (i, spans[i])
        else:
            assert i not in spans
    stats = {r.doc_id: (r.n_chars, r.dup_chars)
             for r in pl.substring_dup_stats(
                 df, "doc_id", "text", min_len=30).collect()}
    assert all(stats[i][1] >= len(plant) for i, _ in rows if i % 2 == 0)
    assert all(stats[i][1] == 0 for i, _ in rows if i % 2 == 1)


def test_cut_substring_spans_removes_planted_text(spark):
    """The cut pass splices duplicated spans out: docs carrying the
    planted boilerplate lose it (plus any adjacent duplicated chars),
    docs without spans pass through byte-identical, and no cleaned doc
    still contains the boilerplate."""
    base = [(i, f"unique prefix number {i} with distinct words "
                f"{i * 7919 % 104729} {i * 104729 % 7919} end")
            for i in range(8)]
    plant = " SHARED BOILERPLATE SENTENCE THAT IS WELL OVER THIRTY CHARS"
    rows = [(i, t + plant) if i % 2 == 0 else (i, t) for i, t in base]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    spans = pl.exact_substring_spans(df, "doc_id", "text", min_len=30)
    cleaned = {r.doc_id: r.text for r in
               pl.cut_substring_spans(df, spans, "doc_id", "text")
               .collect()}
    for i, t in rows:
        if i % 2 == 0:
            assert plant not in cleaned[i]
            assert len(cleaned[i]) < len(t)
            assert t.startswith(cleaned[i])   # only a suffix was cut
        else:
            assert cleaned[i] == t


def test_prefiltered_spans_recall_and_pruning(spark):
    """The winnow-prefiltered composition must (a) recover every span
    whose duplicated run is at least window+k-1 tokens (winnowing's
    recall bound), (b) return a SUBSET of the full pass (the prefilter
    only prunes), and (c) actually prune: unique-token documents never
    reach the gram pass (candidate semi-join drops them)."""
    base = [(i, " ".join(f"w{i}x{j}" for j in range(30))) for i in range(12)]
    plant = (" shared boilerplate run alpha beta gamma delta epsilon"
             " zeta eta theta")            # 11 tokens >= w+k-1 = 9
    rows = [(i, t + plant) if i % 3 == 0 else (i, t) for i, t in base]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    full = {(r.doc_id, r.span_start, r.span_end)
            for r in pl.exact_substring_spans(
                df, "doc_id", "text", 30).collect()}
    for hash_fn in ("md5", "xxhash64"):
        pre = {(r.doc_id, r.span_start, r.span_end)
               for r in pl.exact_substring_spans_prefiltered(
                   df, "doc_id", "text", 30, shingle_k=6, window=4,
                   hash_fn=hash_fn).collect()}
        assert pre <= full
        planted_docs = {i for i, _ in rows if i % 3 == 0}
        assert {d for d, _s, _e in pre} == planted_docs
        assert pre == full                  # here ALL dup runs >= bound


def test_exact_substring_spans_plan_is_distributed(spark):
    """No cartesian/broadcast-nested-loop anywhere: the duplicate-gram
    detection is a hash aggregate + equi-join, the span merge is a
    per-document window."""
    docs = load_table(spark, SF_DIR, "documents").limit(50)
    plan = explain_str(
        pl.exact_substring_spans(docs, "doc_id", "text", 30), "formatted")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ann_recall_margins(spark):
    """Pin the MEASURED recall of the registered ANN queries at the
    driver-gate scale (sf0.01) one hit ABOVE the enforced invariant
    bounds (_ann_invariants: LSH min_hits=6, IVF min_hits=4), so
    margin erosion from any future change to the hyperplane seeds,
    quantizer, or data is caught here before the driver gate flakes."""
    from conftest import SF_DIR_MID
    from lingo_db_spark.queries.pipeline_q import _query_vectors
    emb = load_table(spark, SF_DIR_MID, "embeddings")
    base = emb.filter(F.col("vec_id") >= 5).select("vec_id", "embedding")
    qs = _query_vectors(emb)
    k = 10
    brute = ops.brute_force_topk(base, qs, k=k)
    truth = {}
    for r in brute.collect():
        truth.setdefault(r.q_id, set()).add(r.vec_id)
    for name, approx, measured_min in [
        ("lsh", ops.lsh_topk(base, qs, k=k, dim=64,
                             n_planes=4, n_tables=16), 7),
        ("ivf", ops.ivf_topk(base, qs, k=k, dim=64,
                             n_cells=16, n_probe=6), 5),
        ("pq", ops.pq_topk(base, qs, k=k, dim=64,
                           m=16, n_codes=32, rerank=64), 9),
        # ivfpq re-measured 5 after the r11 k-means++ init (was 6 under
        # uniform init at this scale; per-query hits now EQUAL ivf's, so
        # the re-rank recovers everything the 6/16 probe admits and the
        # residual bound is probe routing, not quantization).
        ("ivfpq", ops.ivfpq_topk(base, qs, k=k, dim=64, n_cells=16,
                                 n_probe=6, m=16, n_codes=32,
                                 rerank=64), 5),
    ]:
        hits = {}
        for r in approx.collect():
            hits[r.q_id] = hits.get(r.q_id, 0) + (
                1 if r.vec_id in truth.get(r.q_id, set()) else 0)
        worst = min(hits.values())
        assert set(hits) == set(truth), f"{name}: missing query ids"
        assert worst >= measured_min, (
            f"{name}: per-query recall margin eroded — worst query has "
            f"{worst}/{k} true top-k hits, pinned floor {measured_min}")


def test_lsh_topk_plan_has_no_cartesian_product(spark):
    base, q = _emb_and_queries(spark)
    plan = explain_str(
        ops.lsh_topk(base, q, k=10, dim=64, n_planes=4, n_tables=16),
        "formatted")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_embed_neardup_finds_planted_pairs_only(spark):
    emb = (load_table(spark, SF_DIR, "embeddings")
           .select("vec_id",
                   F.col("embedding").cast("array<double>").alias("embedding")))
    jit = (emb.filter(F.col("vec_id") < 20)
           .select((F.col("vec_id") + 100000).alias("vec_id"),
                   F.concat(F.array(F.col("embedding").getItem(0) + 0.1),
                            F.slice("embedding", 2, 63)).alias("embedding")))
    aug = emb.unionAll(jit)
    out = ops.embed_neardup(aug, dim=64, threshold=0.99)
    pairs = {(r.id_a, r.id_b) for r in out.collect()}
    assert pairs == {(i, i + 100000) for i in range(20)}
    plan = explain_str(out, "formatted")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ivf_full_probe_equals_brute_force(spark):
    # n_probe == n_cells searches every cell: IVF plumbing must reproduce
    # the exact result.
    base, q = _emb_and_queries(spark)
    brute = [(r.q_id, r.vec_id, r.rank) for r in
             ops.brute_force_topk(base, q, k=10)
             .orderBy("q_id", "rank").collect()]
    full = [(r.q_id, r.vec_id, r.rank) for r in
            ops.ivf_topk(base, q, k=10, dim=64, n_cells=8, n_probe=8)
            .orderBy("q_id", "rank").collect()]
    assert brute == full


def test_ivf_partial_probe_returns_k_and_good_scores(spark):
    base, q = _emb_and_queries(spark)
    brute = ops.brute_force_topk(base, q, k=10).collect()
    part = ops.ivf_topk(base, q, k=10, dim=64, n_cells=8, n_probe=4).collect()
    by_q = {}
    for r in part:
        by_q.setdefault(r.q_id, []).append(r.cos)
    assert all(len(v) == 10 for v in by_q.values())
    # Probing half the cells must retain most of the score mass.
    brute_mean = sum(r.cos for r in brute) / len(brute)
    part_mean = sum(r.cos for r in part) / len(part)
    assert part_mean >= 0.8 * brute_mean


def test_pq_full_rerank_equals_brute_force(spark):
    # rerank >= corpus keeps every ADC candidate: the PQ plumbing
    # (normalize -> per-subspace encode -> LUT scan -> two-level cut ->
    # re-rank joins) must reproduce the exact result.
    base, q = _emb_and_queries(spark)
    brute = [(r.q_id, r.vec_id, r.rank) for r in
             ops.brute_force_topk(base, q, k=10)
             .orderBy("q_id", "rank").collect()]
    full = [(r.q_id, r.vec_id, r.rank) for r in
            ops.pq_topk(base, q, k=10, dim=64, m=16, n_codes=32,
                        rerank=1_000_000)
            .orderBy("q_id", "rank").collect()]
    assert brute == full


def test_ivfpq_exhaustive_equals_brute_force(spark):
    # n_probe == n_cells and rerank >= corpus: every vector survives both
    # the cell cut and the ADC cut, so the composed index must reproduce
    # the exact result — pinning the cell routing, the probe join, the
    # pair-ADC scorer, and the shared re-rank tail.
    base, q = _emb_and_queries(spark)
    brute = [(r.q_id, r.vec_id, r.rank) for r in
             ops.brute_force_topk(base, q, k=10)
             .orderBy("q_id", "rank").collect()]
    full = [(r.q_id, r.vec_id, r.rank) for r in
            ops.ivfpq_topk(base, q, k=10, dim=64, n_cells=8, n_probe=8,
                           m=16, n_codes=32, rerank=1_000_000)
            .orderBy("q_id", "rank").collect()]
    assert brute == full
    plan = explain_str(
        ops.ivfpq_topk(base, q, k=10, dim=64, n_cells=16, n_probe=4,
                       m=16, n_codes=32, rerank=64), "formatted")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ivfpq_append_exhaustive_equals_brute_force(spark):
    """Index maintenance: an index built on HALF the corpus plus an
    ivfpq_append of the other half (frozen quantizers, one encode pass,
    no retrain) must — under exhaustive knobs — reproduce the exact
    brute-force result over the UNION: appended vectors are first-class
    index citizens.  Also pins that append-encoding equals what a full
    rebuild with the same quantizers would emit (byte-identical codes),
    so the at-rest parquet append is exactly a rebuild minus the
    rewrite."""
    base, q = _emb_and_queries(spark)
    odd = base.filter(F.col("vec_id") % 2 == 1)
    even = base.filter(F.col("vec_id") % 2 == 0)
    cents, books, codes_odd = ops.ivfpq_build(odd, dim=64, n_cells=8,
                                              m=16, n_codes=32)
    appended = ops.ivfpq_append(cents, books, even)
    codes_all = codes_odd.unionAll(appended)
    brute = [(r.q_id, r.vec_id, r.rank) for r in
             ops.brute_force_topk(base, q, k=10)
             .orderBy("q_id", "rank").collect()]
    full = [(r.q_id, r.vec_id, r.rank) for r in
            ops.ivfpq_topk(base, q, k=10, dim=64, n_cells=8, n_probe=8,
                           m=16, n_codes=32, rerank=1_000_000,
                           index=(cents, books, codes_all))
            .orderBy("q_id", "rank").collect()]
    assert brute == full
    # append-encode == rebuild-encode under the same quantizers
    direct = {r.vec_id: (r.cell, list(r.pq_codes)) for r in
              ops.ivfpq_append(cents, books, base).collect()}
    via_union = {r.vec_id: (r.cell, list(r.pq_codes)) for r in
                 codes_all.collect()}
    assert direct == via_union


def test_ivfpq_filtered_search_by_composition(spark):
    """FILTERED ANN (top-k among vectors passing a metadata predicate)
    needs no new operator: join the codes frame to the allowed-id set
    before the scan — the filter applies BEFORE the cut, so the top-k
    are k FILTERED results (not a post-filtered shorter list), and
    under exhaustive knobs the result equals brute force over the
    filtered corpus exactly.  The same composition works on the at-rest
    parquet index (the join prunes row-groups by id after the cell
    pruning)."""
    emb = load_table(spark, SF_DIR, "embeddings")
    base = emb.filter(F.col("vec_id") >= 5).select(
        "vec_id", "embedding", "label")
    q = (emb.filter(F.col("vec_id") < 5)
         .select(F.col("vec_id").alias("q_id"),
                 F.col("embedding").alias("q_vec")))
    allowed = base.filter(F.col("label") == 1).select("vec_id")
    cents, books, codes = ops.ivfpq_build(
        base.select("vec_id", "embedding"), dim=64, n_cells=8,
        m=16, n_codes=32)
    filtered_codes = codes.join(allowed, "vec_id")
    got = [(r.q_id, r.vec_id, r.rank) for r in
           ops.ivfpq_topk(base.select("vec_id", "embedding"), q, k=10,
                          dim=64, n_cells=8, n_probe=8, m=16,
                          n_codes=32, rerank=1_000_000,
                          index=(cents, books, filtered_codes))
           .orderBy("q_id", "rank").collect()]
    want = [(r.q_id, r.vec_id, r.rank) for r in
            ops.brute_force_topk(
                base.join(allowed, "vec_id")
                .select("vec_id", "embedding"), q, k=10)
            .orderBy("q_id", "rank").collect()]
    assert got == want and len(got) == 50
    # every returned id actually satisfies the predicate
    lab = {r.vec_id for r in allowed.collect()}
    assert {v for _, v, _ in got} <= lab


def test_pq_encode_shape_determinism_and_plan(spark):
    """The code column is the compressed corpus representation: m tinyint
    entries in [0, n_codes), identical across two independent train+encode
    passes (seeded sample, seeded Lloyd init, fixed iterations), and the
    pq_topk plan stays distributed (no cartesian)."""
    base, q = _emb_and_queries(spark)
    books, codes = ops.pq_encode(base, dim=64, m=16, n_codes=32)
    assert books.shape == (16, 32, 4)
    rows = {r.vec_id: r.pq_codes for r in codes.collect()}
    assert all(len(c) == 16 for c in rows.values())
    assert all(0 <= v < 32 for c in rows.values() for v in c)
    _, codes2 = ops.pq_encode(base, dim=64, m=16, n_codes=32)
    rows2 = {r.vec_id: r.pq_codes for r in codes2.collect()}
    assert rows == rows2
    plan = explain_str(
        ops.pq_topk(base, q, k=10, dim=64, m=16, n_codes=32, rerank=64),
        "formatted")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_cosine_known_values(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0], [1.0, 0.0]), ([1.0, 0.0], [0.0, 1.0])],
        "a ARRAY<DOUBLE>, b ARRAY<DOUBLE>")
    out = [round(r.c, 9) for r in
           df.select(ops.cosine(F.col("a"), F.col("b")).alias("c")).collect()]
    assert out == [1.0, 0.0]


def test_neardup_clusters_components_and_singletons(spark):
    """Min-label propagation must produce exact connected components:
    a 3-chain (1-2, 2-3), a 2-cycle-ish pair (10-11), and singletons."""
    ids = spark.createDataFrame([(i,) for i in [1, 2, 3, 10, 11, 42]],
                                "doc_id BIGINT")
    pairs = spark.createDataFrame([(1, 2), (2, 3), (10, 11)],
                                  "id_a BIGINT, id_b BIGINT")
    out = {r.doc_id: (r.cluster_id, r.is_canonical)
           for r in pl.neardup_clusters(ids, pairs).collect()}
    assert out == {1: (1, True), 2: (1, False), 3: (1, False),
                   10: (10, True), 11: (10, False), 42: (42, True)}


def test_neardup_clusters_long_chain_converges(spark):
    """A 9-node path graph needs several propagation rounds (diameter /
    doubling); the label-sum convergence test must not stop early."""
    n = 9
    ids = spark.createDataFrame([(i,) for i in range(n)], "doc_id BIGINT")
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n - 1)],
                                  "id_a BIGINT, id_b BIGINT")
    # driver_max_edges=0 forces the DISTRIBUTED propagation path (the
    # small-graph default would resolve this on the driver).
    out = pl.neardup_clusters(ids, pairs, driver_max_edges=0).collect()
    assert all(r.cluster_id == 0 for r in out)
    assert sum(r.is_canonical for r in out) == 1


def test_stratified_sample_deterministic_under_repartition(spark):
    """The sample must be a pure function of the data — identical row
    sets regardless of partitioning (the property seeded rand() lacks)."""
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "lang")
    frac = {"en": 0.25, "de": 0.5}
    a = {r.doc_id for r in
         pl.stratified_sample(docs, "lang", frac, "doc_id", 1.0).collect()}
    b = {r.doc_id for r in
         pl.stratified_sample(docs.repartition(13), "lang", frac,
                              "doc_id", 1.0).collect()}
    assert a == b and len(a) > 0
    # strata fractions land near their targets
    en_total = docs.filter("lang = 'en'").count()
    en_kept = (pl.stratified_sample(docs, "lang", frac, "doc_id", 1.0)
               .filter("lang = 'en'").count())
    assert 0.1 < en_kept / max(en_total, 1) < 0.4


def test_winnow_detects_planted_partial_overlap(spark):
    """A 20-token run copied between otherwise-unrelated documents must
    share fingerprints (winnowing guarantee: any shared run of w+k-1
    tokens shares >= 1 selected fingerprint); unrelated docs share none."""
    import random
    rng = random.Random(3)
    vocab = [f"w{i}" for i in range(500)]
    mk = lambda n: " ".join(rng.choice(vocab) for _ in range(n))
    shared_run = mk(20)
    docs = spark.createDataFrame(
        [(1, mk(40) + " " + shared_run + " " + mk(40)),
         (2, mk(30) + " " + shared_run + " " + mk(50)),
         (3, mk(120))],
        "doc_id BIGINT, text STRING")
    fps = pl.winnow_fingerprints(docs, "doc_id", "text")
    pairs = {(r.id_a, r.id_b): r.shared
             for r in pl.overlap_pairs(fps, "doc_id", min_shared=2).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] >= 2
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_int8_quantization_roundtrip_and_recall(spark):
    """int8 scalar quantization: 4x smaller payload, per-dim error within
    scale/2, and exact top-10 neighbors survive re-ranking on the
    dequantized vectors (recall >= 0.9)."""
    from lingo_db_spark.operators.similarity import (
        dequantize_embeddings, quantize_embeddings)

    emb = load_table(spark, SF_DIR, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    q = quantize_embeddings(emb)
    row = q.select(F.length("codes").alias("n")).first()
    assert row.n == 64                     # 64 dims -> 64 bytes (vs 256+)
    back = dequantize_embeddings(q)
    err = (emb.alias("a").join(back.alias("b"), "vec_id")
           .select(F.aggregate(
               F.zip_with("a.embedding", "b.embedding",
                          lambda x, y: F.abs(x - y)),
               F.lit(0.0), lambda acc, x: F.greatest(acc, x)).alias("e"))
           .agg(F.max("e")).first()[0])
    scale_max = q.agg(F.max("vscale")).first()[0]
    assert err <= scale_max / 2 + 1e-12
    base = emb.filter("vec_id >= 5")
    queries = (emb.filter("vec_id < 5")
               .select(F.col("vec_id").alias("q_id"),
                       F.col("embedding").alias("q_vec")))
    exact = {(r.q_id, r.vec_id) for r in
             ops.brute_force_topk(base, queries, k=10).collect()}
    dq = dequantize_embeddings(quantize_embeddings(base))
    approx = {(r.q_id, r.vec_id) for r in
              ops.brute_force_topk(dq, queries, k=10).collect()}
    assert len(exact & approx) / len(exact) >= 0.9


# --- sequence packing (pipeline/packing.py) ----------------------------------

def test_pack_sequences_capacity_and_contiguity(spark):
    """Next-fit invariants: no bin exceeds capacity unless it holds a
    single oversized document; bin ids are contiguous per shard; offsets
    are the running fill."""
    import pyspark.sql.functions as F
    from lingo_db_spark.pipeline import pack_sequences_next_fit
    rows = [(i, t) for i, t in enumerate(
        [500, 700, 900, 2500, 100, 2048, 1, 2047, 2, 600] * 20)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    out = pack_sequences_next_fit(df, "doc_id", "n_tokens", capacity=2048,
                                  shard_of=F.pmod(F.col("doc_id"), F.lit(4)))
    pdf = out.toPandas().sort_values("doc_id")
    fills = pdf.groupby("bin_id").agg(total=("n_tokens", "sum"),
                                      n=("n_tokens", "count"))
    over = fills[fills.total > 2048]
    assert (over.n == 1).all()          # only oversized singletons overflow
    # offsets reconstruct the fold: offset + tokens of previous rows in bin
    for bin_id, grp in pdf.groupby("bin_id"):
        grp = grp.sort_values("doc_id")
        expect = 0
        for _, r in grp.iterrows():
            assert r.bin_offset == expect
            expect += r.n_tokens


def test_pack_sequences_deterministic_under_repartition(spark):
    import pyspark.sql.functions as F
    from lingo_db_spark.pipeline import pack_sequences_next_fit
    rows = [(i, (i * 37) % 900 + 50) for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    shard = F.pmod(F.col("doc_id"), F.lit(8))
    a = pack_sequences_next_fit(df, "doc_id", "n_tokens", 1024,
                                shard_of=shard).toPandas()
    b = pack_sequences_next_fit(df.repartition(13), "doc_id", "n_tokens",
                                1024, shard_of=shard).toPandas()
    a = a.sort_values("doc_id").reset_index(drop=True)
    b = b.sort_values("doc_id").reset_index(drop=True)
    assert a.equals(b)


def test_approx_distinct_within_rsd(spark):
    """approx_count_distinct at rsd=0.02 stays within 3 standard errors
    of the exact ndv (HLL error model — the reference's HLL stats
    machinery, TestHyperLogLog.cpp)."""
    from lingo_db_spark.queries import load_all
    rows = load_all()["pipeline_approx_distinct"].spark_fn(
        spark, SF_DIR).collect()
    assert rows
    for r in rows:
        # The gated output carries the invariant bit (|approx-exact| <=
        # 10% of exact, >>5 sigma at rsd=0.02) rather than the
        # engine-specific sketch value.
        assert r.approx_ok, r
        assert r.exact_ndv > 0 and r.n_docs >= r.exact_ndv, r


def test_chunk_documents_reconstruction(spark):
    """Chunk invariants: non-overlapping prefixes of consecutive chunks
    concatenate back to the original token stream; every chunk except
    the tail has exactly chunk_tokens tokens."""
    from lingo_db_spark.pipeline import chunk_documents, tokens
    import pyspark.sql.functions as F
    docs = load_table(spark, SF_DIR, "documents").limit(30)
    chunks = chunk_documents(docs, "doc_id", "text",
                             chunk_tokens=32, overlap=8).collect()
    orig = {r.doc_id: r.toks for r in docs.select(
        "doc_id", tokens("text").alias("toks")).collect()}
    by_doc = {}
    for r in chunks:
        by_doc.setdefault(r.doc_id, []).append(r)
    step = 32 - 8
    for doc_id, rows in by_doc.items():
        rows.sort(key=lambda r: r.chunk_idx)
        rebuilt = []
        for i, r in enumerate(rows):
            toks = r.chunk_text.split(" ")
            assert len(toks) == r.n_chunk_tokens
            if i < len(rows) - 1:
                assert len(toks) == 32
                rebuilt.extend(toks[:step])
            else:
                rebuilt.extend(toks)
        assert rebuilt == orig[doc_id], doc_id


def test_mix_and_oversample_proportions(spark):
    """mix_to_proportions approaches target shares without upsampling;
    oversample yields floor(w) or ceil(w) copies per row, averaging w."""
    import pyspark.sql.functions as F
    from lingo_db_spark.pipeline import mix_to_proportions, oversample
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "source")
    mixed = mix_to_proportions(docs, "source", "doc_id",
                               {"src0": 0.5, "src1": 0.25, "src2": 0.25})
    counts = {r.source: r.n for r in
              mixed.groupBy("source").agg(F.count("*").alias("n")).collect()}
    total = sum(counts.values())
    assert counts["src0"] == max(counts.values())
    for srcname, share in [("src0", 0.5), ("src1", 0.25), ("src2", 0.25)]:
        assert abs(counts[srcname] / total - share) < 0.15, counts

    over = oversample(docs, "source", "doc_id", {"src0": 2.5})
    per_doc = {r.doc_id: r.n for r in
               over.filter(F.col("source") == "src0").groupBy("doc_id")
               .agg(F.count("*").alias("n")).collect()}
    assert set(per_doc.values()) <= {2, 3}
    n_src0 = docs.filter(F.col("source") == "src0").count()
    assert abs(sum(per_doc.values()) / n_src0 - 2.5) < 0.4


def test_lm_likelihood_scores_repetitive_text_higher(spark):
    """The bigram model assigns higher mean probability to a document
    whose bigrams dominate the corpus than to one of unique bigrams."""
    from lingo_db_spark.pipeline import lm_likelihood
    rows = ([(i, "the cat sat on the mat") for i in range(20)]
            + [(100, "zebra quantum flute garden onyx")])
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in lm_likelihood(df).collect()}
    assert out[0].n_bigrams == 5
    assert 0 < out[100].mean_prob < out[0].mean_prob <= 1.0
    # sum/mean consistency: mean is the half-up nano rounding of sum/n
    r = out[0]
    assert r.mean_prob == ((r.sum_nano * 2 + r.n_bigrams)
                           // (r.n_bigrams * 2)) / 1e9


def test_decontaminate_flags_containment_not_jaccard(spark):
    """A train doc embedding one benchmark sentence inside much longer
    unrelated text must flag (containment), while clean docs must not."""
    from lingo_db_spark.pipeline import decontaminate
    bench = "what is the capital city of france exactly"
    train_rows = [
        (1, "noise " * 50 + bench + " more noise " * 50),   # embeds it
        (2, "completely unrelated prose about spark joins " * 20),
        (3, "what is the capital"),                          # < k overlap
    ]
    ev = spark.createDataFrame([(100, bench)], "doc_id long, text string")
    tr = spark.createDataFrame(train_rows, "doc_id long, text string")
    out = {r.doc_id: r for r in
           decontaminate(tr, ev, "doc_id", "text", shingle_k=5).collect()}
    assert set(out) == {1}
    assert out[1].example_eval_id == 100 and out[1].n_eval_docs == 1
    assert out[1].n_collisions == 4  # 8-token sentence -> 4 distinct 5-grams


def test_index_delete_and_cell_compaction(spark, tmp_path):
    """r13, the delete half of index maintenance.  Tombstone delete
    (index_delete): deleted ids never surface and exhaustive knobs
    equal brute force over the remainder, zero files touched.
    Physical compaction (compact_index_cells): ONLY the cells holding
    deleted ids are rewritten — untouched cells' files stay
    byte-identical — a fully-emptied cell's directory is removed, and
    the compacted index answers exactly like the tombstoned one."""
    import hashlib
    from pathlib import Path

    base, q = _emb_and_queries(spark)
    cents, books, codes = ops.ivfpq_build(base, dim=64, n_cells=8,
                                          m=16, n_codes=32)
    path = str(tmp_path / "ivfpq")
    codes.write.mode("overwrite").partitionBy("cell").parquet(path)

    def _cell_digests():
        out = {}
        for d in Path(path).glob("cell=*"):
            h = hashlib.sha256()
            for f in sorted(p for p in d.rglob("*") if p.is_file()):
                h.update(f.name.encode())
                h.update(f.read_bytes())
            out[d.name] = h.hexdigest()
        return out

    # delete: every id of ONE cell (empties it) + a few from another
    rows = spark.read.parquet(path).select("vec_id", "cell").collect()
    by_cell = {}
    for r in rows:
        by_cell.setdefault(r.cell, []).append(r.vec_id)
    cells = sorted(by_cell, key=lambda c: len(by_cell[c]))
    victim_all, victim_part = cells[0], cells[-1]
    del_ids = by_cell[victim_all] + by_cell[victim_part][:3]
    deleted = spark.createDataFrame([(i,) for i in del_ids],
                                    "vec_id long")
    live_ids = {r.vec_id for r in rows} - set(del_ids)

    # tombstone read path: exact vs brute force over the remainder
    live = ops.index_delete(spark.read.parquet(path), deleted)
    remainder = base.join(deleted, "vec_id", "left_anti")
    brute = [(r.q_id, r.vec_id, r.rank) for r in
             ops.brute_force_topk(remainder, q, k=10)
             .orderBy("q_id", "rank").collect()]
    tomb = [(r.q_id, r.vec_id, r.rank) for r in
            ops.ivfpq_topk(base, q, k=10, dim=64, n_cells=8, n_probe=8,
                           m=16, n_codes=32, rerank=1_000_000,
                           index=(cents, books, live))
            .orderBy("q_id", "rank").collect()]
    assert brute == tomb
    assert not {v for _, v, _ in tomb} & set(del_ids)

    before = _cell_digests()
    touched = ops.compact_index_cells(spark, path, deleted)
    assert touched == sorted([victim_all, victim_part])
    after = _cell_digests()
    # untouched cells byte-identical
    for name, dig in after.items():
        cell_id = int(name.split("=")[1])
        if cell_id not in touched:
            assert dig == before[name], f"{name} was rewritten"
    # the fully-emptied cell's directory is gone
    assert f"cell={victim_all}" not in after
    # compacted files hold exactly the live ids, and answer identically
    left = spark.read.parquet(path)
    assert {r.vec_id for r in left.select("vec_id").collect()} == live_ids
    compacted = [(r.q_id, r.vec_id, r.rank) for r in
                 ops.ivfpq_topk(base, q, k=10, dim=64, n_cells=8,
                                n_probe=8, m=16, n_codes=32,
                                rerank=1_000_000,
                                index=(cents, books, left))
                 .orderBy("q_id", "rank").collect()]
    assert compacted == tomb


def test_ann_index_full_lifecycle_composed(spark, tmp_path):
    """r14 (VERDICT r13 item 6): the WHOLE maintenance lifecycle on ONE
    at-rest index — build on 80%, APPEND the rest under the frozen
    quantizers (parquet append: pre-existing files byte-identical),
    tombstone-DELETE a slice (zero files touched), then physically
    COMPACT (only victim cells rewritten; cells that had received
    appended files stay byte-identical to their post-append state) —
    with EXACT answers vs brute force over the live set at every step.
    The 'index survives a year of churn' evidence at probe scale lives
    in tools/ann_lifecycle_probe.py / SCALE.md."""
    import hashlib
    from pathlib import Path

    base, q = _emb_and_queries(spark)
    initial = base.filter(F.col("vec_id") % 5 != 0)
    delta = base.filter(F.col("vec_id") % 5 == 0)
    cents, books, codes = ops.ivfpq_build(initial, dim=64, n_cells=8,
                                          m=16, n_codes=32)
    path = str(tmp_path / "ivfpq_lifecycle")
    codes.write.mode("overwrite").partitionBy("cell").parquet(path)

    def _digests():
        return {str(f.relative_to(path)):
                hashlib.sha256(f.read_bytes()).hexdigest()
                for f in Path(path).rglob("*.parquet") if f.is_file()}

    def _exact(live_codes, remainder):
        brute = [(r.q_id, r.vec_id, r.rank) for r in
                 ops.brute_force_topk(remainder, q, k=10)
                 .orderBy("q_id", "rank").collect()]
        got = [(r.q_id, r.vec_id, r.rank) for r in
               ops.ivfpq_topk(base, q, k=10, dim=64, n_cells=8,
                              n_probe=8, m=16, n_codes=32,
                              rerank=1_000_000,
                              index=(cents, books, live_codes))
               .orderBy("q_id", "rank").collect()]
        assert got == brute

    _exact(spark.read.parquet(path), initial)

    # APPEND: frozen-quantizer encode, parquet-append into the tree
    built = _digests()
    ops.ivfpq_append(cents, books, delta) \
        .write.mode("append").partitionBy("cell").parquet(path)
    post_append = _digests()
    assert set(built) <= set(post_append)
    for f, dig in built.items():
        assert post_append[f] == dig, f"append rewrote {f}"
    all_ids = {r.vec_id for r in base.select("vec_id").collect()}
    assert {r.vec_id for r in spark.read.parquet(path)
            .select("vec_id").collect()} == all_ids
    _exact(spark.read.parquet(path), base)

    # DELETE: tombstone read path, zero files touched
    rows = spark.read.parquet(path).select("vec_id", "cell").collect()
    by_cell = {}
    for r in rows:
        by_cell.setdefault(r.cell, []).append(r.vec_id)
    cells = sorted(by_cell, key=lambda c: len(by_cell[c]))
    victim_all, victim_part = cells[0], cells[-1]
    del_ids = by_cell[victim_all] + by_cell[victim_part][:3]
    deleted = spark.createDataFrame([(i,) for i in del_ids],
                                    "vec_id long")
    remainder = base.join(deleted, "vec_id", "left_anti")
    _exact(ops.index_delete(spark.read.parquet(path), deleted),
           remainder)
    assert _digests() == post_append          # tombstones touch nothing

    # COMPACT: only victim cells rewritten, appended files elsewhere
    # stay byte-identical to their post-append state
    touched = ops.compact_index_cells(spark, path, deleted)
    assert touched == sorted([victim_all, victim_part])
    final = _digests()
    for f, dig in post_append.items():
        cell = int(f.split("=")[1].split("/")[0])
        if cell not in touched:
            assert final[f] == dig, f"compaction rewrote {f}"
    assert not any(int(f.split("=")[1].split("/")[0]) == victim_all
                   for f in final)
    assert {r.vec_id for r in spark.read.parquet(path)
            .select("vec_id").collect()} == all_ids - set(del_ids)
    _exact(spark.read.parquet(path), remainder)


def test_index_delete_broadcasts_tombstones(spark):
    """r14 (ADVICE r13): the tombstone set must be the broadcast side of
    the anti join — a shuffled anti join would reshuffle the whole codes
    scan at 100 TB just to subtract a tiny delete set."""
    base, _ = _emb_and_queries(spark)
    _, _, codes = ops.ivfpq_build(base, dim=64, n_cells=8, m=16,
                                  n_codes=32)
    deleted = spark.createDataFrame([(1,), (2,)], "vec_id long")
    plan = (ops.index_delete(codes, deleted)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


def test_compaction_all_touched_cells_emptied(spark, tmp_path):
    """r14 (ADVICE r13): deleting EVERY id in every touched cell used to
    crash compaction (empty staging write -> unreadable schema).  Now it
    short-circuits: emptied cell dirs removed, other cells untouched."""
    from pathlib import Path

    base, q = _emb_and_queries(spark)
    cents, books, codes = ops.ivfpq_build(base, dim=64, n_cells=8,
                                          m=16, n_codes=32)
    path = str(tmp_path / "ivfpq_all_empty")
    codes.write.mode("overwrite").partitionBy("cell").parquet(path)
    rows = spark.read.parquet(path).select("vec_id", "cell").collect()
    by_cell = {}
    for r in rows:
        by_cell.setdefault(r.cell, []).append(r.vec_id)
    victims = sorted(by_cell)[:2]
    del_ids = [i for c in victims for i in by_cell[c]]
    deleted = spark.createDataFrame([(i,) for i in del_ids],
                                    "vec_id long")
    touched = ops.compact_index_cells(spark, path, deleted)
    assert touched == victims
    names = {d.name for d in Path(path).glob("cell=*")}
    assert names == {f"cell={c}" for c in sorted(by_cell) if
                     c not in victims}
    left = spark.read.parquet(path)
    assert {r.vec_id for r in left.select("vec_id").collect()} == \
        {r.vec_id for r in rows} - set(del_ids)


# --- r14 plan-variant equivalence -----------------------------------------

def test_ann_qplan_local_rows_identical_to_join(spark, monkeypatch):
    """The query-local ANN kernels (query set as a closure constant /
    element_at literals, LDB_ANN_QPLAN=local — the default) must be
    ROW-IDENTICAL to the joined plans they replaced: same ids, same
    ranks, and STRICT-float-equal cosines (the rescore_exact
    invariant compares scores with ==, so bit-identity is load-bearing,
    not cosmetic)."""
    base, q = _emb_and_queries(spark)
    for fn in (lambda: ops.brute_force_topk(base, q, k=10),
               lambda: ops.ivfpq_topk(base, q, k=10, dim=64, n_cells=16,
                                      n_probe=6, m=16, n_codes=32,
                                      rerank=64)):
        monkeypatch.setenv("LDB_ANN_QPLAN", "join")
        joined = sorted(map(tuple, fn().collect()))
        monkeypatch.setenv("LDB_ANN_QPLAN", "local")
        local = sorted(map(tuple, fn().collect()))
        assert joined and joined == local


def test_ann_enc_dedup_single_eval_and_rows_identical(spark, monkeypatch):
    """The IVF cell-assign and IVF-PQ residual-encode UDFs are marked
    nondeterministic (similarity._nondet, r14 opt round, guide §4.4)
    SOLELY to stop Catalyst pushdown re-evaluating them under a
    derived-column predicate: the default arm must plan exactly ONE
    full-corpus encode pass where the unmarked arm plans two, and the
    final rows must be identical (strict float equality — the encoders
    are pure per-row, so only plan shape may change).  Runs under
    LDB_ANN_BUILD_FUSE=split: the fused-build default removes these
    encode UDF nodes from the non-indexed plans entirely, so the split
    arm is where the dedup marking is observable (it still protects
    the append/build/write paths, which always run the UDFs)."""
    base, q = _emb_and_queries(spark)
    monkeypatch.setenv("LDB_ANN_BUILD_FUSE", "split")
    for fn in (lambda: ops.ivf_topk(base, q, k=10, dim=64, n_cells=16,
                                    n_probe=6),
               lambda: ops.ivfpq_topk(base, q, k=10, dim=64, n_cells=16,
                                      n_probe=6, m=16, n_codes=32,
                                      rerank=64)):
        monkeypatch.setenv("LDB_ANN_ENC_DEDUP", "off")
        dup = fn()
        n_dup = dup._jdf.queryExecution().executedPlan().toString().count(
            "ArrowEvalPython")
        rows_dup = sorted(map(tuple, dup.collect()))
        monkeypatch.setenv("LDB_ANN_ENC_DEDUP", "nondet")
        one = fn()
        n_one = one._jdf.queryExecution().executedPlan().toString().count(
            "ArrowEvalPython")
        rows_one = sorted(map(tuple, one.collect()))
        assert rows_dup and rows_dup == rows_one
        assert n_one == n_dup - 1


def test_ann_build_fuse_rows_identical_to_split(spark, monkeypatch):
    """The fused build+score kernels for the NON-INDEXED ANN paths
    (LDB_ANN_BUILD_FUSE=fused, the default — r14 opt round
    continuation 3) must be ROW-IDENTICAL to the two-pass plans they
    replace, strict float equality included: the kernels reproduce the
    split UDFs' exact float sequences (cell assign via argsort, PQ /
    residual encode, bucketize sign bits, _cosine_np / ADC
    accumulation), and the level-1 cut is exact per (partition, query)
    with deterministic tie-breaks regardless of grouping."""
    base, q = _emb_and_queries(spark)
    for fn in (lambda: ops.ivf_topk(base, q, k=10, dim=64, n_cells=16,
                                    n_probe=6),
               lambda: ops.lsh_topk(base, q, k=10, dim=64, n_planes=4,
                                    n_tables=16),
               lambda: ops.pq_topk(base, q, k=10, dim=64, m=16,
                                   n_codes=32, rerank=64),
               lambda: ops.ivfpq_topk(base, q, k=10, dim=64, n_cells=16,
                                      n_probe=6, m=16, n_codes=32,
                                      rerank=64)):
        monkeypatch.setenv("LDB_ANN_BUILD_FUSE", "split")
        split = sorted(map(tuple, fn().collect()))
        monkeypatch.setenv("LDB_ANN_BUILD_FUSE", "fused")
        fused = sorted(map(tuple, fn().collect()))
        assert split and split == fused


def test_spans_window_dup_mode_rows_identical_to_agg(spark):
    """The window-count duplicate cut (dup_mode="window", the default
    inside exact_substring_spans_prefiltered) must produce exactly the
    agg-mode spans: both keep hash/text keys with count > 1, so the
    marked positions — and the merged islands — are row-identical."""
    base = [(i, f"unique prefix number {i} with distinct words "
                f"{i * 7919 % 104729} {i * 104729 % 7919} end")
            for i in range(8)]
    plant = " SHARED BOILERPLATE SENTENCE THAT IS WELL OVER THIRTY CHARS"
    rows = [(i, t + plant) if i % 2 == 0 else (i, t) for i, t in base]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    agg = sorted(map(tuple, pl.exact_substring_spans(
        df, "doc_id", "text", min_len=30, dup_mode="agg").collect()))
    win = sorted(map(tuple, pl.exact_substring_spans(
        df, "doc_id", "text", min_len=30, dup_mode="window").collect()))
    assert agg and agg == win


def test_index_write_repart_one_file_per_cell_rows_identical(spark,
                                                             tmp_path):
    """The journeys' parallel index write (_write_index: repartition
    (n_cells, "cell") before partitionBy — r14 opt round) must keep the
    at-rest tree's contract: exactly ONE parquet file per non-empty
    cell directory, and the read-back row set identical to the serial
    direct write's."""
    from pathlib import Path

    from lingo_db_spark.queries.pipeline_q import _write_index

    base, _ = _emb_and_queries(spark)
    cents, books, codes = ops.ivfpq_build(base, dim=64, n_cells=8,
                                          m=16, n_codes=32)

    def rows_at(p):
        return sorted((r.vec_id, r.cell, tuple(r.pq_codes))
                      for r in spark.read.parquet(p).collect())

    direct = str(tmp_path / "direct")
    codes.write.mode("overwrite").partitionBy("cell").parquet(direct)
    repart = str(tmp_path / "repart")
    _write_index(codes, repart, n_cells=8)

    assert rows_at(repart) == rows_at(direct)
    cell_dirs = list(Path(repart).glob("cell=*"))
    assert cell_dirs
    for d in cell_dirs:
        files = [f for f in d.rglob("*.parquet") if f.is_file()]
        assert len(files) == 1, f"{d.name}: {len(files)} files"


def test_embed_guard_window_rows_identical_to_agg(spark):
    """The window-count bucket guard (LDB_EMBED_GUARD default, r14 opt
    round) must keep exactly the agg+broadcast guard's rows: both drop
    buckets with count > max_bucket_size, so candidates — and the
    re-scored pairs — are row-identical."""
    import os

    base, _ = _emb_and_queries(spark)

    def run():
        return sorted(map(tuple, ops.embed_neardup(
            base, dim=64, threshold=0.4, max_bucket_size=50).collect()))

    os.environ["LDB_EMBED_GUARD"] = "agg"
    try:
        agg = run()
        os.environ["LDB_EMBED_GUARD"] = "window"
        win = run()
    finally:
        os.environ.pop("LDB_EMBED_GUARD", None)
    assert agg and agg == win


def test_pq_recall_margin_sf01(spark):
    """r14: PQ's recall-bound binding scale is sf0.1, not the sf0.01
    driver-gate scale — the fixed rerank=64 ADC cut admits a smaller
    fraction of the true top-10 as the corpus grows (measured worst
    query 7/10 at sf0.1 vs 9/10 at sf0.01; an sf0.1 full-gate sweep
    caught the old enforced bound of 8 failing there).  Pin the sf0.1
    measured floor one hit above the enforced min_hits=6 so margin
    erosion at the bench SF is caught before the gate flakes."""
    from lingo_db_spark.queries.pipeline_q import _query_vectors
    sf = "/root/testdata/sf0.1"
    emb = load_table(spark, sf, "embeddings")
    base = emb.filter(F.col("vec_id") >= 5).select("vec_id", "embedding")
    qs = _query_vectors(emb)
    k = 10
    truth = {}
    for r in ops.brute_force_topk(base, qs, k=k).collect():
        truth.setdefault(r.q_id, set()).add(r.vec_id)
    hits = {}
    for r in ops.pq_topk(base, qs, k=k, dim=64, m=16, n_codes=32,
                         rerank=64).collect():
        hits[r.q_id] = hits.get(r.q_id, 0) + (
            1 if r.vec_id in truth.get(r.q_id, set()) else 0)
    assert set(hits) == set(truth)
    assert min(hits.values()) >= 7, hits
