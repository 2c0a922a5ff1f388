"""Tests for the extension surfaces: streaming batch/stream symmetry,
multimodal binary plumbing, iterate()/kmeans/pagerank, CSV/JSON ingest
(COPY FROM), UDF registration, and the Connection facade
(CREATE TABLE / INSERT / VALUES through spark.sql).
"""

from __future__ import annotations

import math

import pytest
from conftest import SF_DIR
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lingo_db_spark import streaming as st
from lingo_db_spark.catalog import load_table
from lingo_db_spark.connection import Connection
from lingo_db_spark.functions.udf import register_python_udf
from lingo_db_spark.pipeline.multimodal import (
    byte_histogram_features,
    decode_media_meta,
    sample_frames,
    synth_media,
)
from lingo_db_spark.plans import iterate, kmeans, pagerank
from lingo_db_spark.sources import copy_from_csv, copy_from_json


# --- streaming ---------------------------------------------------------------

def test_stream_matches_batch(spark):
    batch = st.windowed_event_counts(
        load_table(spark, SF_DIR, "events"), "1 hour")
    stream = st.windowed_event_counts(
        st.stream_events(spark, SF_DIR), "1 hour")
    got_b = {(str(r.window_start), r.event_type): (r.n_events, r.total_value)
             for r in batch.collect()}
    got_s = {(str(r.window_start), r.event_type): (r.n_events, r.total_value)
             for r in st.run_stream_to_memory(stream, "complete").collect()}
    assert got_b == got_s


def test_stream_watermark_is_set(spark):
    sdf = st.windowed_event_counts(st.stream_events(spark, SF_DIR), "1 hour",
                                   watermark="2 hours")
    assert sdf.isStreaming


# --- multimodal --------------------------------------------------------------

def test_media_roundtrip_and_features(spark):
    docs = load_table(spark, SF_DIR, "documents").limit(20)
    media = synth_media(docs)
    assert dict(media.dtypes)["media"] == "binary"
    meta = decode_media_meta(media)
    got = {r.doc_id: r for r in meta.collect()}
    for doc_id, r in got.items():
        assert r.width == 16 * (doc_id % 40) + 16
        assert r.n_frames == doc_id % 25 + 1
        assert r.payload_len > 0
    feats = byte_histogram_features(media).collect()
    for r in feats:
        assert len(r.features) == 16
        assert abs(sum(r.features) - 1.0) < 1e-9


def test_decode_real_codec_dispatch(spark):
    """r13: real_codec=True is no longer a stub — RIFF/WAVE blobs
    decode through the real WAV parser; formats that would need PIL/av
    still refuse LOUDLY (ValueError naming the gap), surfacing at
    collect time."""
    from lingo_db_spark.pipeline.multimodal import synth_wav

    docs = load_table(spark, SF_DIR, "documents").limit(5)
    # WAV blobs: the image-shaped meta carries (rate, channels, frames)
    got = {r.doc_id: r for r in decode_media_meta(
        synth_wav(docs), real_codec=True).collect()}
    for doc_id, r in got.items():
        assert r.width == (8000, 16000, 22050, 44100)[doc_id % 4]
        assert r.height == doc_id % 2 + 1
        assert r.n_frames == (doc_id % 50 + 1) * 100
    # non-WAV real decode refuses loudly
    try:
        decode_media_meta(synth_media(docs), real_codec=True).collect()
        raise AssertionError("expected a loud refusal")
    except Exception as e:  # noqa: BLE001 — Py4J wraps the ValueError
        assert "WAV" in str(e)


def test_wav_codec_is_real_stdlib_crosscheck(spark):
    """The WAV bytes are genuine RIFF files: read them back with the
    stdlib `wave` module (an independent from-spec implementation) and
    compare every field; then resample and re-verify the exact output
    frame count floor(n_in * target / rate_in) plus actual sample
    values on a non-silent signal."""
    import io
    import struct as _s
    import wave

    from lingo_db_spark.pipeline.multimodal import (
        _wav_info,
        decode_wav_meta,
        resample_wav,
        synth_wav,
        wav_pack_pcm16,
    )

    docs = load_table(spark, SF_DIR, "documents").limit(12)
    blobs = {r.doc_id: bytes(r.media)
             for r in synth_wav(docs).collect()}
    metas = {r.doc_id: r for r in
             decode_wav_meta(synth_wav(docs)).collect()}
    for doc_id, b in blobs.items():
        with wave.open(io.BytesIO(b)) as w:
            assert w.getframerate() == metas[doc_id].sample_rate
            assert w.getnchannels() == metas[doc_id].n_channels
            assert w.getsampwidth() * 8 == metas[doc_id].bits_per_sample
            assert w.getnframes() == metas[doc_id].n_samples
        assert metas[doc_id].duration_ms == \
            metas[doc_id].n_samples * 1000 // metas[doc_id].sample_rate
    # resample: exact frame count + value mapping on a ramp signal
    ramp = b"".join(_s.pack("<h", v) for v in range(1000))
    src = wav_pack_pcm16(8000, 1, ramp)
    out = {r.doc_id: bytes(r.media) for r in resample_wav(
        spark.createDataFrame([(1, src)], "doc_id long, media binary"),
        target_hz=4000).collect()}
    info = _wav_info(out[1])
    assert info[0] == 4000 and info[3] == 500      # floor(1000*4000/8000)
    with wave.open(io.BytesIO(out[1])) as w:
        frames = w.readframes(w.getnframes())
    vals = [v for (v,) in _s.iter_unpack("<h", frames)]
    # nearest-sample mapping at 2:1 keeps every other source value
    assert vals == list(range(0, 1000, 2))
    # chunk-walker robustness: an extra LIST chunk before fmt/data
    extra = (b"RIFF" + _s.pack("<I", 4 + 12 + 24 + 8 + 8) + b"WAVE"
             + b"LIST" + _s.pack("<I", 4) + b"INFO"
             + src[12:])                            # fmt + data follow
    assert _wav_info(extra)[:4] == _wav_info(src)[:4]


def test_wav_truncated_blob_clamps_not_crashes(spark):
    """r14 (ADVICE r13): a blob cut mid-data-chunk must not inflate
    n_samples from the DECLARED chunk length, and resample must not
    crash on the odd tail — the dirty-corpus posture is clamp/NULL,
    never a job kill."""
    import struct as _s

    from lingo_db_spark.pipeline.multimodal import (
        _wav_info,
        decode_wav_meta,
        resample_wav,
        wav_pack_pcm16,
    )

    ramp = b"".join(_s.pack("<h", v) for v in range(1000))
    src = wav_pack_pcm16(8000, 2, ramp)              # 500 stereo frames
    cut = src[:len(src) - 403]                        # odd truncation
    avail = len(cut) - 44                             # bytes of PCM left
    info = _wav_info(cut)
    assert info is not None
    assert info[3] == avail // 4                      # whole frames only
    assert info[5] == info[3] * 4                     # dlen re-derived
    media = spark.createDataFrame(
        [(1, cut), (2, src)], "doc_id long, media binary")
    metas = {r.doc_id: r for r in decode_wav_meta(media).collect()}
    assert metas[1].n_samples == avail // 4           # not the declared 500
    assert metas[2].n_samples == 500
    out = {r.doc_id: r.media for r in
           resample_wav(media, target_hz=4000).collect()}
    assert _wav_info(bytes(out[1]))[3] == (avail // 4) * 4000 // 8000
    assert _wav_info(bytes(out[2]))[3] == 250


def test_ppm_codec_is_real_independent_crosscheck(spark):
    """r14, the raster half of the codec seam: synth_ppm packs genuine
    binary-PPM (P6) files — cross-checked here with an INDEPENDENT
    test-local header parser (regex over the spec grammar, a different
    implementation from the codec's byte-walk) — and resize_ppm's
    nearest-neighbor mapping is value-verified per pixel against an
    independently computed numpy expectation."""
    import re as _re

    import numpy as np

    from lingo_db_spark.pipeline.multimodal import (
        _ppm_info,
        decode_ppm_meta,
        ppm_byte_sum,
        resize_ppm,
        synth_ppm,
    )

    def independent_parse(b: bytes):
        m = _re.match(rb"P6(?:\s|#[^\n]*\n)+(\d+)(?:\s|#[^\n]*\n)+"
                      rb"(\d+)(?:\s|#[^\n]*\n)+(\d+)\s", b)
        assert m, "not a P6 file"
        return (int(m.group(1)), int(m.group(2)), int(m.group(3)),
                m.end())

    docs = load_table(spark, SF_DIR, "documents").limit(12)
    blobs = {r.doc_id: bytes(r.media) for r in synth_ppm(docs).collect()}
    metas = {r.doc_id: r for r in
             decode_ppm_meta(synth_ppm(docs)).collect()}
    for doc_id, b in blobs.items():
        w, h, mx, off = independent_parse(b)
        assert (w, h, mx) == (metas[doc_id].width, metas[doc_id].height,
                              metas[doc_id].maxval)
        assert metas[doc_id].n_pixels == w * h
        assert len(b) - off == w * h * 3          # full raster present
        assert (w, h) == (doc_id % 12 + 1, doc_id % 8 + 1)
    # resize: exact per-pixel nearest-neighbor mapping
    media = spark.createDataFrame(
        [(int(d), b) for d, b in blobs.items()],
        "doc_id long, media binary")
    out = {r.doc_id: bytes(r.media) for r in
           resize_ppm(media, target_w=8, target_h=5).collect()}
    sums = {r.doc_id: r.byte_sum for r in ppm_byte_sum(
        resize_ppm(media, target_w=8, target_h=5)).collect()}
    for doc_id, b in out.items():
        w, h = doc_id % 12 + 1, doc_id % 8 + 1
        src = np.frombuffer(blobs[doc_id][_ppm_info(blobs[doc_id])[3]:],
                            dtype=np.uint8).reshape(h, w, 3)
        ix = np.arange(8) * w // 8
        iy = np.arange(5) * h // 5
        expect = src[iy][:, ix]
        got_w, got_h, got_mx, off = independent_parse(b)
        assert (got_w, got_h, got_mx) == (8, 5, 255)
        assert b[off:] == expect.tobytes()
        assert sums[doc_id] == int(expect.sum())


def test_ppm_truncated_and_comment_headers(spark):
    """r14: a `#` comment inside the header parses per spec, and a blob
    cut mid-raster reports clamped n_pixels (meta) / NULL (resize) —
    the same dirty-corpus posture as the WAV clamp."""
    from lingo_db_spark.pipeline.multimodal import (
        _ppm_info,
        decode_ppm_meta,
        ppm_pack_p6,
        resize_ppm,
    )

    rgb = bytes(range(4 * 3 * 3 % 256 or 36))[:36]
    commented = b"P6\n# made by a real tool\n4 3\n# maxval next\n255\n" \
        + rgb
    assert _ppm_info(commented)[:3] == (4, 3, 255)
    full = ppm_pack_p6(4, 3, rgb)
    cut = full[:len(full) - 7]                    # loses 3 whole pixels
    info = _ppm_info(cut)
    assert info[:3] == (4, 3, 255)
    assert info[4] == (36 - 7) // 3 * 3           # whole pixels only
    media = spark.createDataFrame(
        [(1, cut), (2, full), (3, commented), (4, b"\x89PNG not ppm")],
        "doc_id long, media binary")
    metas = {r.doc_id: r for r in decode_ppm_meta(media).collect()}
    assert metas[1].n_pixels == 9 and metas[2].n_pixels == 12
    assert metas[3].n_pixels == 12
    assert metas[4].width is None                 # NULL, not a crash
    out = {r.doc_id: r.media for r in
           resize_ppm(media, target_w=2, target_h=2).collect()}
    assert out[1] is None and out[4] is None      # truncated / non-PPM
    assert out[2] is not None and out[3] is not None


def test_resize_media_real_codec_dispatches_per_blob(spark):
    """r14: resize_media(real_codec=True) routes RIFF blobs to the
    PCM resample and P6 blobs to the raster resize IN ONE FRAME, and
    decode_media_meta(real_codec=True) decodes both tiers (still
    refusing loudly on formats that need PIL/av)."""
    import struct as _s

    from lingo_db_spark.pipeline.multimodal import (
        _ppm_info,
        _wav_info,
        decode_media_meta,
        ppm_pack_p6,
        resize_media,
        wav_pack_pcm16,
    )

    wav = wav_pack_pcm16(16000, 1,
                         b"".join(_s.pack("<h", v) for v in range(400)))
    ppm = ppm_pack_p6(6, 4, bytes(range(72)))
    media = spark.createDataFrame(
        [(1, wav), (2, ppm)], "doc_id long, media binary")
    metas = {r.doc_id: r for r in
             decode_media_meta(media, real_codec=True).collect()}
    assert (metas[1].width, metas[1].height,
            metas[1].n_frames) == (16000, 1, 400)
    assert (metas[2].width, metas[2].height,
            metas[2].n_frames) == (6, 4, 1)
    out = {r.doc_id: bytes(r.media) for r in resize_media(
        media, target_w=8000, target_h=2, real_codec=True).collect()}
    assert _wav_info(out[1])[:2] == (8000, 1)     # resampled
    assert _wav_info(out[1])[3] == 200
    assert _ppm_info(out[2])[:2] == (8000, 2)     # raster-resized
    bad = spark.createDataFrame([(9, b"\x00\x01garbage")],
                                "doc_id long, media binary")
    try:
        decode_media_meta(bad, real_codec=True).collect()
        raise AssertionError("expected a loud refusal")
    except Exception as e:  # noqa: BLE001 — Py4J wraps the ValueError
        assert "PPM" in str(e) and "WAV" in str(e)


def test_frame_sampling(spark):
    docs = load_table(spark, SF_DIR, "documents").limit(10)
    meta = decode_media_meta(synth_media(docs))
    frames = sample_frames(meta, every_n=5)
    got = {r.doc_id: [] for r in frames.collect()}
    for r in frames.collect():
        got[r.doc_id].append(r.frame_idx)
    for doc_id, idxs in got.items():
        n = doc_id % 25 + 1
        assert sorted(idxs) == list(range(0, n, 5))


# --- iterative ---------------------------------------------------------------

def test_iterate_until_and_checkpoint(spark):
    df0 = spark.createDataFrame([(1,)], "x INT")
    out = iterate(df0, lambda df, i: df.select((F.col("x") * 2).alias("x")),
                  max_iters=10,
                  until=lambda prev, new: new.collect()[0].x >= 16,
                  checkpoint_every=2)
    assert out.collect()[0].x == 16


def test_kmeans_partitions_all_vectors(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    total = emb.count()
    out = kmeans(emb, k=4, iters=3).collect()
    assert len(out) == 4
    assert sum(r.n for r in out) == total
    assert all(r.inertia >= 0 for r in out)


def test_pagerank_on_known_graph(spark):
    # star graph: everyone links to 0 -> node 0 gets the highest rank;
    # ranks sum to ~1.
    edges = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 0), (0, 1)], "src INT, dst INT")
    ranks = {r.node: r.rank for r in pagerank(edges, iters=15).collect()}
    assert max(ranks, key=ranks.get) == 0
    assert math.isclose(sum(ranks.values()), 1.0, rel_tol=1e-3)


def test_pagerank_sink_node_conserves_mass(spark):
    # node 2 is a sink (no outgoing edge): without dangling-mass
    # redistribution the total rank leaks by ~d*rank(2) every round.
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2)], "src INT, dst INT")
    ranks = {r.node: r.rank for r in pagerank(edges, iters=20).collect()}
    assert math.isclose(sum(ranks.values()), 1.0, rel_tol=1e-6)
    # sink absorbs the most rank in this chain
    assert max(ranks, key=ranks.get) == 2


# --- sources (COPY FROM) -----------------------------------------------------

def test_copy_from_csv_declared_schema(spark, tmp_path):
    p = tmp_path / "in.csv"
    p.write_text("a,b\n1,x\n2,y\n")
    schema = T.StructType([T.StructField("a", T.IntegerType()),
                           T.StructField("b", T.StringType())])
    df = copy_from_csv(spark, str(p), schema, view_name="csv_in")
    assert [f.dataType.simpleString() for f in df.schema.fields] == ["int", "string"]
    assert spark.sql("SELECT SUM(a) s FROM csv_in").collect()[0].s == 3


def test_copy_from_json(spark, tmp_path):
    p = tmp_path / "in.jsonl"
    p.write_text('{"a": 1, "b": "x"}\n{"a": 2, "b": "y"}\n')
    schema = T.StructType([T.StructField("a", T.LongType()),
                           T.StructField("b", T.StringType())])
    df = copy_from_json(spark, str(p), schema)
    assert sorted((r.a, r.b) for r in df.collect()) == [(1, "x"), (2, "y")]


# --- UDF + Connection/DDL ----------------------------------------------------

def test_register_row_udf(spark):
    register_python_udf(spark, "plus_one_slow", lambda x: x + 1, "long",
                        vectorized=False)
    assert spark.sql("SELECT plus_one_slow(41) v").collect()[0].v == 42


def test_connection_add_table_and_sql(spark):
    con = Connection(spark)
    con.add_table("conn_t", [(1, "a"), (2, "b")])
    out = con.sql("SELECT COUNT(*) n FROM conn_t").collect()[0].n
    assert out == 2
    assert "conn_t" in con.tables


def test_connection_create_insert_values(spark, tmp_path):
    con = Connection(spark)
    loc = tmp_path / "tbl"
    con.sql_stmt(f"""
        CREATE TABLE ddl_t (k INT, v STRING)
        USING parquet LOCATION '{loc}'""")
    con.sql_stmt("INSERT INTO ddl_t VALUES (1, 'x'), (2, 'y')")
    got = sorted((r.k, r.v) for r in con.sql("SELECT * FROM ddl_t").collect())
    assert got == [(1, "x"), (2, "y")]
    inline = con.sql("SELECT * FROM (VALUES (1, 'a'), (2, 'b')) t(k, v)")
    assert inline.count() == 2
    con.sql_stmt("DROP TABLE ddl_t")


def test_write_table_partitioned_roundtrip_and_pruning(spark, tmp_path):
    """Partitioned parquet sink: values survive the round trip and a
    filter on the partition column prunes at the source (PartitionFilters
    in the scan — the layout choice that matters at 100TB)."""
    from conftest import explain_str
    from lingo_db_spark.sources import write_table

    src = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority")
    out = str(tmp_path / "orders_by_prio")
    write_table(src, out, partition_by=["o_orderpriority"])
    back = spark.read.parquet(out)
    assert back.count() == src.count()
    one_prio = back.filter(F.col("o_orderpriority") == "1-URGENT")
    plan = explain_str(one_prio)
    assert "PartitionFilters" in plan and "1-URGENT" in plan
    expect = src.filter(F.col("o_orderpriority") == "1-URGENT").count()
    assert one_prio.count() == expect


def test_resize_media_rewrites_dims_and_scales_payload(spark):
    """Stub resize: header carries the target dims, payload length scales
    with the pixel-count ratio, n_frames survives; the real-codec path
    resamples WAV and NULLs non-WAV blobs (r13)."""
    import pytest
    import struct
    from lingo_db_spark.pipeline.multimodal import (
        _HEADER_FMT, _HEADER_SIZE, _MAGIC, decode_media_meta, resize_media,
        synth_media)

    docs = load_table(spark, SF_DIR, "documents").limit(20)
    media = synth_media(docs)
    resized = resize_media(media, 32, 32)
    metas = {r.doc_id: r for r in decode_media_meta(resized).collect()}
    origs = {r.doc_id: r for r in decode_media_meta(media).collect()}
    assert metas.keys() == origs.keys()
    for did, m in metas.items():
        o = origs[did]
        assert (m.width, m.height) == (32, 32)
        assert m.n_frames == o.n_frames
        ow = 16 * (did % 40) + 16
        oh = 16 * (did % 30) + 16
        assert m.payload_len == int(o.payload_len * (32 * 32) / (ow * oh))
    # r13: the real-codec path now genuinely resamples WAV blobs
    # (temporal axis = resolution); non-WAV blobs like these fakes
    # yield NULL media (dirty-corpus row-level posture)
    nulled = resize_media(media, 16000, 1, real_codec=True).collect()
    assert all(r.media is None for r in nulled)


def test_asof_join_corners(spark):
    """As-of corners: no preceding right row -> NULL; equal timestamps
    match (at-or-before); later rows take the latest predecessor."""
    from datetime import datetime

    from lingo_db_spark.operators.asof import asof_join

    TS = lambda m: datetime(2024, 1, 1, 0, m)
    left = spark.createDataFrame(
        [(100, 1, TS(5)), (101, 1, TS(10)), (102, 1, TS(25)),
         (103, 2, TS(30))],
        "event_id LONG, user_id LONG, ts TIMESTAMP_NTZ")
    right = spark.createDataFrame(
        [(1, TS(10), 7), (1, TS(20), 8)],
        "user_id LONG, ts TIMESTAMP_NTZ, click_id LONG")
    out = {r.event_id: r.click_id for r in
           asof_join(left, right, on="user_id", ts="ts",
                     value_cols=["click_id"]).collect()}
    assert out == {100: None, 101: 7, 102: 8, 103: None}


def test_salted_aggregate_equals_plain_groupby(spark):
    from pyspark.sql import functions as F

    from lingo_db_spark.operators.skew import salted_aggregate

    ev = load_table(spark, SF_DIR, "events")
    plain = {(r.event_type): (r.n, r.mn, r.mx) for r in
             ev.groupBy("event_type").agg(
                 F.count(F.lit(1)).alias("n"),
                 F.min("event_id").alias("mn"),
                 F.max("event_id").alias("mx")).collect()}
    salted = {(r.event_type): (r.n, r.mn, r.mx) for r in
              salted_aggregate(ev, ["event_type"],
                               {"n": ("count", None),
                                "mn": ("min", F.col("event_id")),
                                "mx": ("max", F.col("event_id"))},
                               salt_src="event_id", n_salt=8).collect()}
    assert plain == salted


def test_hll_sketch_within_error_of_exact(spark):
    """approx_count_distinct (HyperLogLog++, mergeable single-pass
    sketch) stays within its configured relative error of the exact
    distinct count — the sketch path for 100TB cardinality estimation."""
    from pyspark.sql import functions as F

    ev = load_table(spark, SF_DIR, "events")
    row = ev.agg(
        F.countDistinct("user_id").alias("exact"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx")).first()
    assert abs(row.approx - row.exact) / row.exact < 0.06


def test_connection_sql_arrow_returns_pyarrow(spark):
    """Reference API parity: Connection.sql returns a pyarrow Table."""
    import pyarrow as pa

    con = Connection(spark, SF_DIR)
    t = con.sql_arrow("SELECT n_nationkey, n_name FROM nation ORDER BY 1")
    assert isinstance(t, pa.Table)
    assert t.num_rows == 25 and t.column_names == ["n_nationkey", "n_name"]


def test_stream_parquet_sink_exactly_once(spark, tmp_path):
    """Checkpointed file sink is exactly-once: a second availableNow run
    over the unchanged source commits nothing new, and the sink equals
    the batch answer."""
    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    mk = lambda: st.stream_events(spark, SF_DIR).filter(
        "event_type = 'purchase'").select("event_id", "user_id")
    st.run_stream_to_parquet(mk(), out, ckpt)
    n1 = spark.read.parquet(out).count()
    st.run_stream_to_parquet(mk(), out, ckpt)   # restart: no duplicates
    n2 = spark.read.parquet(out).count()
    batch = load_table(spark, SF_DIR, "events").filter(
        "event_type = 'purchase'").count()
    assert n1 == n2 == batch > 0


def test_stream_static_join_matches_batch(spark):
    """Stream-static join (availableNow) equals the pure-batch plan over
    the same files."""
    import pyspark.sql.functions as F
    from lingo_db_spark import functions as lf
    from lingo_db_spark.queries import load_all
    got_s = {r.c_mktsegment: (r.n_events, r.total_value)
             for r in load_all()["streaming_stream_static_join"]
             .spark_fn(spark, SF_DIR).collect()}
    ev = load_table(spark, SF_DIR, "events").filter(
        F.col("event_type") == "purchase")
    cust = load_table(spark, SF_DIR, "customer")
    got_b = {r.c_mktsegment: (r.n_events, r.total_value)
             for r in ev.join(cust, ev.user_id == cust.c_custkey)
             .groupBy("c_mktsegment")
             .agg(F.count(F.lit(1)).alias("n_events"),
                  lf.dsum("value").alias("total_value")).collect()}
    assert got_s == got_b


def test_asof_join_directions_and_tolerance(spark):
    """Backward default, forward mirror, and max-staleness tolerance
    (feature-store lookup semantics)."""
    import datetime as dt

    import pyspark.sql.functions as F
    from lingo_db_spark.operators.asof import asof_join

    T = lambda m: dt.datetime(2024, 1, 1, 0, m)
    left = spark.createDataFrame(
        [(1, T(10)), (1, T(30)), (2, T(5))], "k int, ts timestamp_ntz")
    right = spark.createDataFrame(
        [(1, T(0), 100.0), (1, T(25), 200.0), (1, T(40), 300.0)],
        "k int, ts timestamp_ntz, v double")

    back = {(r.k, r.ts.minute): r.v for r in asof_join(
        left, right, on="k", ts="ts", value_cols=["v"]).collect()}
    assert back == {(1, 10): 100.0, (1, 30): 200.0, (2, 5): None}

    fwd = {(r.k, r.ts.minute): r.v for r in asof_join(
        left, right, on="k", ts="ts", value_cols=["v"],
        direction="forward").collect()}
    assert fwd == {(1, 10): 200.0, (1, 30): 300.0, (2, 5): None}

    tol = {(r.k, r.ts.minute): r.v for r in asof_join(
        left, right, on="k", ts="ts", value_cols=["v"],
        tolerance=F.expr("INTERVAL 7 MINUTES")).collect()}
    # at :10 the last right row is :0 -> 10 min stale -> NULL;
    # at :30 the last is :25 -> 5 min -> kept
    assert tol == {(1, 10): None, (1, 30): 200.0, (2, 5): None}


def test_approx_percentile_close_to_exact(spark):
    import pyspark.sql.functions as F
    from lingo_db_spark.queries import load_all
    rows = (load_all()["events_approx_percentiles"]
            .spark_fn(spark, SF_DIR).collect())
    assert rows, "query returned no groups"
    ev = load_table(spark, SF_DIR, "events")
    vals = {}
    for r in ev.select("event_type", "value").collect():
        vals.setdefault(r.event_type, []).append(r.value)
    # The sketch guarantee is on RANK, not value; the query exposes
    # (a) the exact order statistic at rank ceil(p*n) and (b) a boolean
    # asserting the sketch answer's rank sits inside the guarantee band.
    for r in rows:
        v = sorted(vals[r.event_type])
        n = len(v)
        assert r.n == n
        assert r.p50_ok and r.p99_ok, (r.event_type, "sketch rank guarantee")
        for target, got in ((0.5, r.p50_rank_value), (0.99, r.p99_rank_value)):
            exact = round(v[int(-(-target * n // 1)) - 1], 4)  # ceil(p*n)-th
            assert got == exact, (r.event_type, target, got, exact)


def test_binaryfile_source_roundtrip(spark):
    """Media blobs written as real files, re-ingested via the binaryFile
    source, and decoded: the production ingest path produces the same
    typed metadata as the in-plan synthetic media."""
    import os
    import tempfile

    from lingo_db_spark.pipeline.multimodal import (
        decode_media_meta, read_media_dir, synth_media)

    docs = load_table(spark, SF_DIR, "documents").limit(12)
    blobs = synth_media(docs).collect()
    d = tempfile.mkdtemp(prefix="ldb_media_")
    for r in blobs:
        with open(os.path.join(d, f"{r.doc_id}.bin"), "wb") as f:
            f.write(bytes(r.media))
    back = read_media_dir(spark, d)
    meta = {r.doc_id: r for r in decode_media_meta(back).collect()}
    assert len(meta) == 12
    for doc_id, r in meta.items():
        assert r.width == 16 * (doc_id % 40) + 16
        assert r.n_frames == doc_id % 25 + 1


def test_upsert_partitions_touches_only_batch_partitions(spark, tmp_path):
    from lingo_db_spark.sources import upsert_partitions
    p = str(tmp_path / "up")
    base = spark.createDataFrame(
        [("a", 1, 10), ("a", 2, 20), ("b", 1, 30)], "part string, k int, v int")
    upsert_partitions(base, p, ["part"])
    # rewrite partition 'a' only, with changed values
    batch = spark.createDataFrame([("a", 9, 99)], "part string, k int, v int")
    upsert_partitions(batch, p, ["part"])
    got = sorted(tuple(r) for r in spark.read.parquet(p)
                 .select("part", "k", "v").collect())
    assert got == [("a", 9, 99), ("b", 1, 30)]   # 'b' untouched, 'a' replaced
    # idempotent: rerunning the same batch converges
    upsert_partitions(batch, p, ["part"])
    again = sorted(tuple(r) for r in spark.read.parquet(p)
                   .select("part", "k", "v").collect())
    assert again == got


def test_compact_keep_latest(spark, tmp_path):
    from lingo_db_spark.sources import compact_keep_latest
    p = str(tmp_path / "dim")
    v1 = spark.createDataFrame(
        [(1, "x", 1), (2, "y", 1)], "k int, val string, ver int")
    v1.write.parquet(p)
    v2 = spark.createDataFrame([(1, "x2", 2)], "k int, val string, ver int")
    v2.write.mode("append").parquet(p)
    compact_keep_latest(spark, p, ["k"], "ver")
    got = sorted(tuple(r) for r in spark.read.parquet(p).collect())
    assert got == [(1, "x2", 2), (2, "y", 1)]


def test_read_evolved_merges_schemas(spark, tmp_path):
    from lingo_db_spark.sources import read_evolved
    p = str(tmp_path / "ev")
    spark.createDataFrame([(1, "a")], "k int, v string") \
        .write.parquet(p + "/batch=1")
    spark.createDataFrame([(2, "b", 9.5)], "k int, v string, score double") \
        .write.parquet(p + "/batch=2")
    got = {r.k: (r.v, r.score) for r in read_evolved(spark, p).collect()}
    assert got == {1: ("a", None), 2: ("b", 9.5)}


def test_compact_small_files(spark, tmp_path):
    import glob
    from lingo_db_spark.sources import compact_small_files
    p = str(tmp_path / "many")
    df = spark.range(0, 1000).withColumnRenamed("id", "k")
    df.repartition(50).write.parquet(p)
    assert len(glob.glob(p + "/part-*")) == 50
    n = compact_small_files(spark, p, 2)
    assert n == 1000
    assert len(glob.glob(p + "/part-*")) == 2
    assert spark.read.parquet(p).count() == 1000


def test_connection_append_table(spark):
    """append_table matches the reference's Connection.append_table
    (tools/python/lingodb/__init__.py:62): rows accumulate under the
    same name and subsequent sql() sees the union."""
    con = Connection(spark, None)
    con.add_table("apnd", [(1, "a"), (2, "b")])
    con.append_table("apnd", [(3, "c")])
    got = sorted(tuple(r) for r in con.sql(
        "SELECT * FROM apnd").collect())
    assert got == [(1, "a"), (2, "b"), (3, "c")]


def test_connection_sql_decorrelates_select_list(spark):
    # Catalyst rejects SELECT-list correlation; the door must retry via
    # sqlrewrite.decorrelate_select_list and return the right values.
    con = Connection(spark)
    con.add_table("ints", [(1,), (2,), (3,)])
    # hoistable: MIN(i + 2*outer) = MIN(i) + 2*outer
    rows = con.sql(
        "SELECT t1.`_1` AS i, (SELECT MIN(t2.`_1` + 2 * t1.`_1`) FROM ints t2)"
        " AS m FROM ints t1 ORDER BY i").collect()
    assert [(r.i, r.m) for r in rows] == [(1, 3), (2, 5), (3, 7)]
    # no-FROM outer aggregation unwraps to the per-row identity — the
    # reference corpus's pinned semantics (unnesting.test:214-218 expects
    # 1/2/3/NULL for this shape; DuckDB instead gives the outer-aggregate
    # reading 6, so only the corpus pins per-row)
    rows = con.sql(
        "SELECT (SELECT SUM(t1.`_1`)) AS s FROM ints t1 ORDER BY s"
    ).collect()
    assert [r.s for r in rows] == [1, 2, 3]
    # a genuinely non-separable shape still raises (no silent wrong answer)
    import pytest as _pytest
    from pyspark.errors import AnalysisException
    with _pytest.raises(AnalysisException):
        con.sql(
            "SELECT (SELECT MIN(t2.`_1` * t1.`_1` + t2.`_1` * t2.`_1`)"
            " FROM ints t2) FROM ints t1").collect()
    # unrelated resolution errors (typos) re-raise untouched — the
    # narrowed retry gate must not swallow real diagnostics
    with _pytest.raises(AnalysisException):
        con.sql("SELECT nosuch_col FROM ints").collect()


def test_connection_sql_empty_group_yields_null(spark):
    """GROUP BY outer-constant + pure-outer MIN through the SQL door:
    the rewrite's COUNT(*) guard rides the injected HAVING, so for the
    max element (empty group) the original grouped subquery yields NO
    row -> NULL; the COALESCE guard keeps the rewrite NULL there
    instead of leaking the outer value."""
    con = Connection(spark)
    con.add_table("ints_eg", [(1,), (2,), (3,)])
    rows = con.sql(
        "SELECT t1.`_1` AS i, (SELECT MIN(t1.`_1`) FROM ints_eg t2"
        " WHERE t2.`_1` > t1.`_1` GROUP BY t1.`_1`) AS m"
        " FROM ints_eg t1 ORDER BY i").collect()
    assert [(r.i, r.m) for r in rows] == [(1, 1), (2, 2), (3, None)]


def test_sql_door_correlated_on_condition(spark):
    # unnesting.test#78 family: scalar subquery AS the join-ON
    # condition.  Catalyst rejects it (analysis in Spark 4.1.2); the
    # door's retry moves it to WHERE — value-pinned expected rows.
    spark.range(1, 4).selectExpr("id AS i").createOrReplaceTempView(
        "corr_on_ints")
    con = Connection(spark)
    q = ("SELECT * FROM corr_on_ints s1 INNER JOIN corr_on_ints s2 "
         "ON (SELECT s1.i = s2.i) ORDER BY s1.i")
    rows = [tuple(r) for r in con.sql(q).collect()]
    assert rows == [(1, 1), (2, 2), (3, 3)]
    assert con.last_rewritten_sql is not None
    # the EAGER reference-parity door must carry the same coverage
    tbl = con.sql_arrow(q)
    assert sorted(map(tuple, tbl.to_pylist()[0].items()))  # materialized
    assert tbl.num_rows == 3


def test_reference_python_api_smoke_verbatim(spark):
    """The reference's own Python-API smoke (tools/python/test/test.py)
    re-run against our Connection: uni initialize.sql fed to sql_stmt
    LINE BY LINE (comments and blank lines included, exactly as the
    reference script does), then its three queries + the
    create_in_memory/add_table(arrow)/count-distinct journey.  The
    .mlir() entry point is inapplicable by design (we have no MLIR
    layer; Catalyst plans are the analogue)."""
    from pathlib import Path

    import pyarrow as pa

    from lingo_db_spark import connection as C

    init = Path("/root/reference/resources/sql/uni/initialize.sql")
    if not init.exists():
        pytest.skip("reference absent")
    con = C.Connection(spark)
    for line in init.read_text().splitlines():
        con.sql_stmt(line)
    never = con.sql("""
-- all students who never attended a lecture
select * from studenten s
where not exists(select * from hoeren h where h.matrnr=s.matrnr)
""").toPandas()
    assert "matrnr" in never.columns
    attend = con.sql("""
-- all lectures that students starting with 'A' attend
select distinct s.name, v.titel
from vorlesungen v, hoeren h, studenten s
where s.name like 'F%' and s.matrnr=h.matrnr and h.vorlnr=v.vorlnr
""").toPandas()
    assert len(attend) > 0                     # Fichte attends lectures
    assert con.sql("select 1").toPandas().iloc[0, 0] == 1

    import pandas as pd
    df = pd.DataFrame(data={"col1": [1, 2, 3, 4],
                            "col2": ["foo", "foo", "bar", "bar"]})
    schema = pa.schema([("col1", pa.int64()), ("col2", pa.string())])
    con2 = C.Connection(spark)   # create_in_memory shape, shared test session
    con2.add_table("df", pa.Table.from_pandas(df, schema=schema))
    out = con2.sql("select count(*) as c1, count(distinct col2) as c2 "
                   "from df where col1>2").toPandas()
    assert (out.c1[0], out.c2[0]) == (2, 1)


def test_outer_interval_join_oracle_exact_at_sf0001(spark):
    """r14: the left-outer interval join's null-row cut follows the
    GLOBAL watermark = min over the two per-side (post-filter)
    watermark nodes at ms precision, with NO lookback adjustment on
    the left (matching rights satisfy r_ts <= l_ts).  sf0.001 is the
    fixture that exposed the old max-over-all-events closed form
    (clicks stop 4h before purchases; one unmatched purchase fell
    between the two cuts), so pin oracle equality exactly here."""
    import duckdb

    from lingo_db_spark.queries import load_all

    spec = load_all()["streaming_outer_interval_join"]
    sf = "/root/testdata/sf0.001"
    srows = sorted((r[0], r[1]) for r in spec.spark_fn(spark, sf).collect())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"read_parquet('{sf}/events.parquet')")
    drows = sorted((r[0], r[1]) for r in con.execute(spec.oracle).fetchall())
    assert srows == drows
