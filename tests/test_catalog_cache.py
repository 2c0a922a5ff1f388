"""The relation cache must stay bounded under per-query session churn
(each cached DataFrame pins its creating session alive, so an unbounded
dict would leak one session + N frames per spark.newSession()), and a
shared session's catalog views must never go stale: a query's result
may not depend on which queries ran before it."""

from __future__ import annotations

from conftest import SF_DIR
from lingo_db_spark import catalog


def test_relation_cache_evicts_oldest_sessions():
    saved = dict(catalog._RELATION_CACHE)
    catalog._RELATION_CACHE.clear()
    try:
        n = 3 * catalog._CACHE_MAX_SESSIONS
        for s in range(n):
            catalog._evict_stale_sessions(f"s{s}")
            for p in ("/a", "/b"):
                catalog._RELATION_CACHE[(f"s{s}", p)] = object()
        sessions = {sid for (sid, _p) in catalog._RELATION_CACHE}
        assert len(sessions) <= catalog._CACHE_MAX_SESSIONS
        # newest sessions survive, oldest were evicted
        assert f"s{n - 1}" in sessions
        assert "s0" not in sessions
        # re-seen session is not double-counted or evicted
        catalog._evict_stale_sessions(f"s{n - 1}")
        assert {sid for (sid, _p) in catalog._RELATION_CACHE} == sessions
    finally:
        catalog._RELATION_CACHE.clear()
        catalog._RELATION_CACHE.update(saved)


def test_view_read_after_ddl_rebind_matches_oracle(spark):
    """A DDL-door CREATE TABLE re-binds the catalog name `customer` to an
    empty table with other columns; the next view-reading query in the
    same session must read the parquet catalog table again and still
    equal its DuckDB oracle."""
    import duckdb

    from lingo_db_spark.connection import Connection
    from lingo_db_spark.queries import load_all

    spec = load_all()["job_ten_way_min_chain"]
    con = duckdb.connect()
    for t in catalog.TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{catalog.table_path(SF_DIR, t)}')")
    expected = sorted(con.execute(spec.oracle).fetchall())

    def run():
        return sorted(tuple(r) for r in spec.spark_fn(spark, SF_DIR).collect())

    assert run() == expected
    Connection(spark).sql_stmt(
        "CREATE TABLE customer (c_id integer not null, c_note varchar(10))")
    try:
        assert run() == expected
    finally:
        catalog.register_views(spark, SF_DIR)
