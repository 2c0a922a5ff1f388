"""Catalog: fixed, declared schemas for the engine's tables.

The reference uses a persisted catalog with explicit schemas, per-table
statistics (row count, sample, per-column HLL distinct counts;
reference include/lingodb/catalog/MetaData.h:17-27,
src/utility/HyperLogLog.cpp).  Our equivalent: explicit StructType
schemas (never inferred), parquet storage, and `analyze_table` standing in
for the HLL/sample statistics via Spark's CBO stats.

Morsel layout.  The reference splits every table scan into morsel tasks
that all hardware threads pull from (reference
include/lingodb/runtime/LingoDBTable.h:66 `createScanTask`,
src/scheduler/Scheduler.cpp:365 `numWorkers = hardware_concurrency`;
Leis et al., *Morsel-Driven Parallelism*, SIGMOD'14).  Spark's smallest
scan split is a parquet row group, and pandas/pyarrow write 1M-row
groups, so a one-row-group file scans in ONE task however many cores
the session has.  `load_table` therefore reads the footer and, when the
file has fewer row groups than ``pieces = min(defaultParallelism,
num_rows // MORSEL_ROWS)``, streams it once into ``pieces`` contiguous
parquet files under the process temp dir (removed at exit) and scans
that directory instead: one morsel per core.  A file that already has
enough row groups, and a table stored as a directory of part files, is
read in place, never copied.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# The ten engine tables shipped by the driver (TESTDATA.md). Schemas are
# declared so reads never rely on inference and nullability is explicit
# (reference pins NOT NULL in DDL, resources/sql/tpch/initialize.sql:2-95).
TABLE_SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType([
        T.StructField("r_regionkey", T.IntegerType(), False),
        T.StructField("r_name", T.StringType(), False),
    ]),
    "nation": T.StructType([
        T.StructField("n_nationkey", T.IntegerType(), False),
        T.StructField("n_name", T.StringType(), False),
        T.StructField("n_regionkey", T.IntegerType(), False),
    ]),
    "customer": T.StructType([
        T.StructField("c_custkey", T.LongType(), False),
        T.StructField("c_name", T.StringType(), False),
        T.StructField("c_nationkey", T.IntegerType(), False),
        T.StructField("c_acctbal", T.DoubleType(), False),
        T.StructField("c_mktsegment", T.StringType(), False),
    ]),
    "supplier": T.StructType([
        T.StructField("s_suppkey", T.LongType(), False),
        T.StructField("s_name", T.StringType(), False),
        T.StructField("s_nationkey", T.IntegerType(), False),
        T.StructField("s_acctbal", T.DoubleType(), False),
    ]),
    "part": T.StructType([
        T.StructField("p_partkey", T.LongType(), False),
        T.StructField("p_name", T.StringType(), False),
        T.StructField("p_brand", T.StringType(), False),
        T.StructField("p_type", T.StringType(), False),
        T.StructField("p_size", T.IntegerType(), False),
        T.StructField("p_retailprice", T.DoubleType(), False),
    ]),
    "orders": T.StructType([
        T.StructField("o_orderkey", T.LongType(), False),
        T.StructField("o_custkey", T.LongType(), False),
        T.StructField("o_orderstatus", T.StringType(), False),
        T.StructField("o_totalprice", T.DoubleType(), False),
        T.StructField("o_orderdate", T.TimestampNTZType(), False),
        T.StructField("o_orderpriority", T.StringType(), False),
    ]),
    "lineitem": T.StructType([
        T.StructField("l_orderkey", T.LongType(), False),
        T.StructField("l_partkey", T.LongType(), False),
        T.StructField("l_suppkey", T.LongType(), False),
        T.StructField("l_linenumber", T.IntegerType(), False),
        T.StructField("l_quantity", T.DoubleType(), False),
        T.StructField("l_extendedprice", T.DoubleType(), False),
        T.StructField("l_discount", T.DoubleType(), False),
        T.StructField("l_tax", T.DoubleType(), False),
        T.StructField("l_returnflag", T.StringType(), False),
        T.StructField("l_linestatus", T.StringType(), False),
        T.StructField("l_shipdate", T.TimestampNTZType(), False),
    ]),
    "events": T.StructType([
        T.StructField("event_id", T.LongType(), False),
        T.StructField("ts", T.TimestampNTZType(), False),
        T.StructField("user_id", T.LongType(), False),
        T.StructField("event_type", T.StringType(), False),
        T.StructField("value", T.DoubleType(), False),
        T.StructField("props", T.StringType(), True),
    ]),
    "documents": T.StructType([
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("lang", T.StringType(), False),
        T.StructField("source", T.StringType(), False),
        T.StructField("n_chars", T.LongType(), False),
    ]),
    "embeddings": T.StructType([
        T.StructField("vec_id", T.LongType(), False),
        T.StructField("embedding", T.ArrayType(T.FloatType(), True), False),
        T.StructField("label", T.IntegerType(), False),
    ]),
}

TABLE_NAMES = tuple(TABLE_SCHEMAS)

# Dimension tables small enough to broadcast at any realistic scale factor;
# the physical-strategy analogue of the reference's index-nested-loop
# fast path (reference OptimizeImplementations.cpp:544-590).
BROADCAST_TABLES = frozenset({"region", "nation"})


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# On-disk deviations from the declared logical schema, resolved exactly at
# load.  events.ts has shipped as TIMESTAMP(NANOS) (read as raw nanos
# under spark.sql.legacy.parquet.nanosAsLong) in some testdata drops and
# as TIMESTAMP(MICROS) (read directly as timestamp_ntz) in others; both
# are accepted and normalized to the declared NTZ type.
_RAW_TYPE_ALTERNATES: dict[str, dict[str, tuple[str, ...]]] = {
    "events": {"ts": ("bigint", "timestamp_ntz")},
}

# Rows per scan morsel: a source file is split into at most one piece per
# core, and into no piece smaller than this.
MORSEL_ROWS = 1 << 15

# One record per table version, keyed on (path, st_size, st_mtime_ns,
# pieces) for a one-file table and on (path, listing) for a multi-file
# table directory: the table passed the declared-schema check (the
# reference's fixed-schema contract: no inference, a mismatched file is
# an error, not a silent cast), and the value is the path Spark scans for
# it (the table itself or the directory of its morsel pieces).  A table
# replaced at the same path has a new key, so it is checked (and split)
# again, not trusted.
_FILE_RECORDS: dict[tuple, str] = {}

def session_key(spark: SparkSession) -> str:
    """Stable, never-reused identity token for a session (r15, verdict
    item 7): ``id(spark)`` can be REUSED after a stopped session is
    GC'd, so an id-keyed cache could serve a new session a DataFrame
    bound to the dead one.  A uuid stamped ON the session object is
    unique for the process lifetime and costs zero py4j round-trips
    (``applicationId``, the old anti-restart component, was one JVM
    call per lookup)."""
    k = getattr(spark, "_ldb_session_key", None)
    if k is None:
        import uuid
        k = "s" + uuid.uuid4().hex
        try:
            spark._ldb_session_key = k
        except Exception:       # noqa: BLE001 — exotic session proxy
            return f"id{id(spark)}"
    return k


# Resolved base relations, keyed by (session, path).  A DataFrame is an
# immutable plan, so handing the same object to every query is safe, and
# it skips the per-read footer fetch + file-index build (~70 ms/table —
# a 6-table query pays ~0.4 s in pure re-resolution otherwise).  Keyed
# on session_key (a per-session uuid: never reused, no py4j cost; a new
# session after a JVM restart is a new object and so a new key).  Each
# cached DataFrame pins its creating session alive, so under per-query
# `spark.newSession()` churn an unbounded dict would leak one session +
# N frames per query — bound the number of LIVE sessions instead (a
# WeakKeyDictionary would not help: the value frames hold strong refs
# back to their key session).
_RELATION_CACHE: dict[tuple[str, str], DataFrame] = {}
_CACHE_MAX_SESSIONS = 8


def _evict_stale_sessions(new_session_key: str) -> None:
    """Keep at most _CACHE_MAX_SESSIONS distinct sessions' entries
    (insertion-ordered: python dicts preserve it), evicting oldest-first
    so long-lived drivers that spin a session per query stay bounded."""
    seen: list[str] = []
    for (sid, _p) in _RELATION_CACHE:
        if sid not in seen:
            seen.append(sid)
    if new_session_key in seen or len(seen) < _CACHE_MAX_SESSIONS:
        return
    for victim in seen[: len(seen) - _CACHE_MAX_SESSIONS + 1]:
        for k in [k for k in _RELATION_CACHE if k[0] == victim]:
            del _RELATION_CACHE[k]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """basetable scan (reference relalg.basetable, RelAlgOps.td:120-130).

    The parquet footer schema is validated against the declared catalog
    schema (names + types; parquet files are always nullable on read, so
    nullability is enforced by the writer, not checked here).  Validation
    runs once per table version — a footer read, no data scan.  The scan
    reads the table's morsel layout (module docstring)."""
    if name not in TABLE_SCHEMAS:
        raise KeyError(f"unknown table {name!r}; known: {TABLE_NAMES}")
    path = table_path(sf_dir, name)
    # keyed by the SESSION, not the context: a DataFrame executes under
    # the SQLConf of the session that created it, so handing a cached
    # frame to a sibling `spark.newSession()` (per-query conf isolation)
    # would silently pin the first session's confs.
    cache_key = (session_key(spark), path)
    cached = _RELATION_CACHE.get(cache_key)
    if cached is not None:
        return cached
    _evict_stale_sessions(cache_key[0])
    df = _scan(spark, name, path)
    if name == "events" and dict(df.dtypes)["ts"] == "bigint":
        # nanos -> micros by integer division (exact), then to the
        # declared NTZ type (session TZ is pinned to UTC).
        df = df.withColumn(
            "ts", F.expr("timestamp_micros(ts div 1000)").cast("timestamp_ntz"))
    _RELATION_CACHE[cache_key] = df
    return df


def _scan(spark: SparkSession, name: str, path: str) -> DataFrame:
    """The raw parquet relation for one table: its morsel pieces when it is
    one file with fewer row groups than cores, else the path itself."""
    import pyarrow.parquet as pq

    if not os.path.isfile(path):
        # A multi-file table directory (tools/make_scaled_data.py writes
        # Spark part files, as real ingest does) is already split: read it
        # in place.  A directory's own size and mtime do not track its
        # files, so its version is its listing.
        return _read_checked(spark, name, path, (path, _listing(path)))
    st = os.stat(path)
    with pq.ParquetFile(path) as pf:
        pieces = min(spark.sparkContext.defaultParallelism,
                     pf.metadata.num_rows // MORSEL_ROWS)
        key = (path, st.st_size, st.st_mtime_ns, pieces)
        if key not in _FILE_RECORDS and pf.metadata.num_row_groups < pieces:
            _check_schema(name, spark.read.parquet(path))
            _FILE_RECORDS[key] = _split(pf, os.path.basename(path), pieces)
    return _read_checked(spark, name, path, key)


def _read_checked(spark: SparkSession, name: str, path: str,
                  key: tuple) -> DataFrame:
    """Read the scan path recorded under ``key``; on first sight, check
    ``path``'s schema and record it as its own scan path."""
    if key in _FILE_RECORDS:
        return spark.read.parquet(_FILE_RECORDS[key])
    df = spark.read.parquet(path)
    _check_schema(name, df)
    _FILE_RECORDS[key] = path
    return df


def _listing(path: str) -> tuple:
    """(relative path, size, mtime_ns) of every file under ``path``."""
    out = []
    for d, _dirs, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(d, f))
            out.append((os.path.relpath(os.path.join(d, f), path),
                        st.st_size, st.st_mtime_ns))
    return tuple(sorted(out))


def _check_schema(name: str, df: DataFrame) -> None:
    alternates = _RAW_TYPE_ALTERNATES.get(name, {})
    actual = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    mismatches = []
    for f in TABLE_SCHEMAS[name].fields:
        allowed = alternates.get(f.name, (f.dataType.simpleString(),))
        if actual.get(f.name) not in allowed:
            mismatches.append((f.name, actual.get(f.name), allowed))
    if mismatches or set(actual) != {f.name for f in TABLE_SCHEMAS[name].fields}:
        raise ValueError(f"schema mismatch for {name}: {mismatches or actual}")


def _split(pf, stem: str, pieces: int) -> str:
    """Write ``pf`` as ``pieces`` contiguous parquet files with the
    source's Arrow schema (no timestamp coercion), streaming one batch at
    a time, and return their directory."""
    import pyarrow.parquet as pq

    out = tempfile.mkdtemp(prefix=f"ldb-morsels-{stem}-")
    atexit.register(shutil.rmtree, out, True)
    n = pf.metadata.num_rows
    bounds = [n * i // pieces for i in range(1, pieces + 1)]
    piece, pos, writer = 0, 0, None
    try:
        for batch in pf.iter_batches(batch_size=MORSEL_ROWS):
            while batch.num_rows:
                if writer is None:
                    writer = pq.ParquetWriter(
                        os.path.join(out, f"part-{piece:05d}.parquet"),
                        pf.schema_arrow)
                take = min(batch.num_rows, bounds[piece] - pos)
                writer.write_batch(batch.slice(0, take))
                batch, pos = batch.slice(take), pos + take
                if pos == bounds[piece]:
                    writer.close()
                    piece, writer = piece + 1, None
    except BaseException:
        if writer is not None:
            writer.close()
        shutil.rmtree(out, ignore_errors=True)
        raise
    return out


def load_tables(spark: SparkSession, sf_dir: str,
                names: tuple[str, ...] = TABLE_NAMES) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


def register_views(spark: SparkSession, sf_dir: str,
                   names: tuple[str, ...] = TABLE_NAMES) -> dict[str, DataFrame]:
    """Register every table as a temp view so spark.sql() sees the same
    catalog the DuckDB oracle does.  Every call re-binds every view:
    anything else in the session (the DDL door, sources, CSE, mapped
    relations) may have re-bound a catalog name since the last call, and
    a query's result must not depend on what ran before it."""
    dfs = load_tables(spark, sf_dir, names)
    for n, df in dfs.items():
        df.createOrReplaceTempView(n)
    return dfs


def analyze_table(spark: SparkSession, name: str) -> None:
    """Compute CBO statistics — our stand-in for the reference's per-table
    row count + reservoir sample + HyperLogLog ndv
    (reference src/runtime/storage/LingoDBTable.cpp:237).  Only works for
    catalog tables (saveAsTable), not temp views."""
    spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS FOR ALL COLUMNS")
