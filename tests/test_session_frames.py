"""Session-level pins: driver-side frames are Arrow-built local relations
(session.local_frame), and case mapping under the engine session (ICU
case mappings off) gives the expected results."""

from __future__ import annotations

import datetime
import decimal

from lingo_db_spark.session import ENGINE_CONFS, local_frame

_SCHEMA = "k BIGINT, d DECIMAL(12,2), dt DATE, s STRING, ts TIMESTAMP"


def _jobs_during(spark, fn):
    sc = spark.sparkContext
    group = "local-frame-probe"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_local_frame_is_a_local_relation_and_round_trips(spark):
    rows = [(2**40 + 1, decimal.Decimal("12345.67"), datetime.date(1998, 12, 1),
             "Straße", datetime.datetime(2020, 2, 29, 23, 59, 59, 123456)),
            (-7, None, None, None, None)]
    df = local_frame(spark, rows, _SCHEMA)
    # A silent fallback to a pickled Python RDD would analyze to a
    # LogicalRDD here, not a LocalRelation.
    assert (df._jdf.queryExecution().analyzed().getClass().getSimpleName()
            == "LocalRelation")
    assert [f.simpleString() for f in df.schema.fields] == [
        "k:bigint", "d:decimal(12,2)", "dt:date", "s:string",
        "ts:timestamp"]
    got, jobs = _jobs_during(spark, df.collect)
    assert [tuple(r) for r in got] == rows
    assert jobs == []


def test_local_frame_empty_has_no_partitions_and_runs_no_tasks(spark):
    df = local_frame(spark, [], _SCHEMA)
    assert df.rdd.getNumPartitions() == 0
    got, jobs = _jobs_during(spark, df.collect)
    assert got == [] and jobs == []
    # reads through SQL stay task-free too (the DDL door's CREATE TABLE)
    df.createOrReplaceTempView("local_frame_empty")
    got, jobs = _jobs_during(
        spark, lambda: spark.sql("SELECT * FROM local_frame_empty").collect())
    assert got == [] and jobs == []


def test_case_mapping_without_icu(spark):
    assert ENGINE_CONFS["spark.sql.icu.caseMappings.enabled"] == "false"
    assert spark.conf.get("spark.sql.icu.caseMappings.enabled") == "false"
    df = local_frame(spark, [("Hello World 42!",), ("Straße",), ("ÄÉ",)],
                     "s STRING")
    got = [tuple(r) for r in
           df.selectExpr("s", "lower(s)", "upper(s)").collect()]
    assert got == [("Hello World 42!", "hello world 42!", "HELLO WORLD 42!"),
                   ("Straße", "straße", "STRASSE"),
                   ("ÄÉ", "äé", "ÄÉ")]
