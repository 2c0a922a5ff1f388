"""The catalog's morsel layout: a base table with fewer parquet row groups
than cores is scanned as one contiguous piece per core, with the source's
schema and rows; every other file, and every table stored as a directory
of part files, is read in place.  Schema validation is keyed on the
table's version, so a table replaced at the same path is checked again."""

from __future__ import annotations

import os
import weakref

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from conftest import SF_DIR
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lingo_db_spark import catalog

SF_BIG = os.path.join(os.path.dirname(SF_DIR), "sf0.1")

needs_sf01 = pytest.mark.skipif(
    not os.path.exists(catalog.table_path(SF_BIG, "lineitem")),
    reason="sf0.1 testdata absent")


def _files(df) -> list[str]:
    return sorted(f.removeprefix("file://") for f in df.inputFiles())


def _sorted_row_hashes(df) -> np.ndarray:
    cols = sorted(df.columns)
    h = df.select(F.xxhash64(*cols).alias("h")).toArrow().column("h")
    return np.sort(h.to_numpy())


@needs_sf01
def test_lineitem_reads_as_one_morsel_per_core(spark):
    assert spark.sparkContext.defaultParallelism == 4
    src = catalog.table_path(SF_BIG, "lineitem")
    li = catalog.load_table(spark, SF_BIG, "lineitem")
    direct = spark.read.parquet(src)
    assert li.rdd.getNumPartitions() == 4
    assert len(_files(li)) == 4 and src not in _files(li)
    assert li.schema == direct.schema
    assert np.array_equal(_sorted_row_hashes(li), _sorted_row_hashes(direct))


@needs_sf01
def test_events_split_keeps_timestamp_ntz(spark):
    ev = catalog.load_table(spark, SF_BIG, "events")
    assert len(_files(ev)) == 3
    assert ev.schema["ts"].dataType == T.TimestampNTZType()


def test_small_tables_are_read_in_place(spark):
    for name in catalog.TABLE_NAMES:
        df = catalog.load_table(spark, SF_DIR, name)
        assert _files(df) == [catalog.table_path(SF_DIR, name)], name


@needs_sf01
def test_file_with_enough_row_groups_is_read_in_place(spark, tmp_path):
    t = pq.read_table(catalog.table_path(SF_BIG, "orders"))
    pq.write_table(t, tmp_path / "orders.parquet", row_group_size=40_000)
    assert pq.ParquetFile(tmp_path / "orders.parquet").num_row_groups >= 4
    df = catalog.load_table(spark, str(tmp_path), "orders")
    assert _files(df) == [str(tmp_path / "orders.parquet")]
    assert df.count() == t.num_rows


@needs_sf01
def test_rewritten_source_gets_a_new_split(spark, tmp_path):
    t = pq.read_table(catalog.table_path(SF_BIG, "orders"))
    path = tmp_path / "orders.parquet"
    pq.write_table(t, path)
    first = catalog.load_table(spark, str(tmp_path), "orders")
    assert len(_files(first)) == 4
    pq.write_table(t.slice(0, 100_000), path)
    second = catalog.load_table(spark.newSession(), str(tmp_path), "orders")
    assert len(_files(second)) == 3
    assert set(_files(first)).isdisjoint(_files(second))
    assert second.count() == 100_000
    assert first.count() == t.num_rows


def test_directory_table_is_read_in_place_and_validated_again(spark, tmp_path):
    """A table written as a Spark directory of part files (the layout of
    tools/make_scaled_data.py) is scanned in place; replacing its files
    makes the next session check the schema again."""
    src = spark.read.parquet(catalog.table_path(SF_DIR, "orders"))
    path = str(tmp_path / "orders.parquet")
    src.repartition(3).write.parquet(path)
    df = catalog.load_table(spark, str(tmp_path), "orders")
    assert len(_files(df)) == 3
    assert all(f.startswith(path + os.sep) for f in _files(df))
    assert df.schema == src.schema
    assert df.count() == src.count()
    (src.withColumn("o_orderkey", F.col("o_orderkey").cast("string"))
     .write.mode("overwrite").parquet(path))
    with pytest.raises(ValueError, match="schema mismatch for orders"):
        catalog.load_table(spark.newSession(), str(tmp_path), "orders")


def test_replaced_file_is_validated_again(spark, tmp_path):
    good = pa.table({"r_regionkey": pa.array([0, 1], pa.int32()),
                     "r_name": ["AFRICA", "AMERICA"]})
    path = tmp_path / "region.parquet"
    pq.write_table(good, path)
    assert catalog.load_table(spark, str(tmp_path), "region").count() == 2
    bad = good.set_column(0, "r_regionkey", pa.array(["0", "1"]))
    pq.write_table(bad, path)
    with pytest.raises(ValueError, match="schema mismatch for region"):
        catalog.load_table(spark.newSession(), str(tmp_path), "region")


@needs_sf01
def test_split_streams_one_batch_at_a_time(spark, tmp_path, monkeypatch):
    """The split never holds the decoded table: it reads no whole table or
    row group, and every batch is released before the next is read."""
    t = pq.read_table(catalog.table_path(SF_BIG, "orders"))
    pq.write_table(t, tmp_path / "orders.parquet")
    real = pq.ParquetFile.iter_batches
    seen: list[weakref.ref] = []

    def spy(self, *args, **kwargs):
        for batch in real(self, *args, **kwargs):
            assert all(r() is None for r in seen), "previous batch still held"
            seen.append(weakref.ref(batch))
            yield batch
            del batch

    def forbidden(*_a, **_k):
        raise AssertionError("split read a whole table or row group")

    monkeypatch.setattr(pq.ParquetFile, "iter_batches", spy)
    for name in ("read", "read_row_group", "read_row_groups"):
        monkeypatch.setattr(pq.ParquetFile, name, forbidden)
    df = catalog.load_table(spark, str(tmp_path), "orders")
    assert len(seen) >= 4
    assert len(_files(df)) == 4
    assert df.count() == t.num_rows
