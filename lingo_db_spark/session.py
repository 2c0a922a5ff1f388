"""SparkSession factory with the engine's tuned defaults.

The reference runs morsel-driven parallel over all hardware threads
(reference src/scheduler/Scheduler.cpp:365).  Our equivalent knobs: AQE,
CBO, Arrow exchange, and shuffle partitions sized to the local core count
(on a real cluster these come from spark-defaults; everything here is safe
to override).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# Configs chosen for 100 TB-scale behavior, applied identically in local
# mode. AQE re-plans shuffles at runtime (coalesce small partitions, split
# skewed ones, demote/promote join strategies); CBO + join reorder mirrors
# the reference's DPhyp/GOO join-order optimizer
# (reference src/compiler/Dialect/RelAlg/Transforms/queryopt/DPhyp.cpp).
ENGINE_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.cbo.enabled": "true",
    "spark.sql.cbo.joinReorder.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # LingoDB casts are permissive (no runtime errors on overflow); match.
    "spark.sql.ansi.enabled": "false",
    # Broadcast threshold: 8 MB (r14 opt round; was 64 MB).  The
    # threshold compares the planner's SIZE ESTIMATE, and for raw-file
    # sources (the DDL door's CSV COPY tables) that estimate is the
    # file size while the built hash relation is ~8x larger in memory —
    # 64 MB effectively meant "broadcast up to ~0.5 GB", and a deep
    # join chain building several such relations concurrently stalled
    # the driver for seconds (sql_job_29a_verbatim: 8.2 s -> ~2 s at
    # 8 MB, interleaved A/B in OPTIMIZATION_r14.md; full TPC-H flat-to-
    # better at sf0.1 and sf1).  Known-small dimensions keep their
    # explicit F.broadcast hints in the hand-built queries — the
    # guide-recommended posture when estimates can't be trusted.  At
    # 100 TB the conservative default is also the safe one: every
    # executor holds every broadcast relation.
    "spark.sql.autoBroadcastJoinThreshold": str(8 * 1024 * 1024),
    "spark.sql.parquet.filterPushdown": "true",
    # Prefer shuffled-hash over sort-merge when no side broadcasts: the
    # reference's execution model is hash-join-everywhere (SURVEY §4.2,
    # LazyJoinHashtable) and skipping both sort passes measures ~7%
    # across the join-heavy TPC-H set here.  Scale posture: per-partition
    # build sides are bounded by shuffle-partition sizing + AQE skew
    # splitting; degenerate skew would OOM a build where SMJ spills, so
    # a deployment with known extreme skew can flip this back per job.
    "spark.sql.join.preferSortMergeJoin": "false",
    # The driver's events.parquet stores TIMESTAMP(NANOS), which the
    # parquet reader rejects by default; read as raw nanos (bigint) and
    # convert exactly in catalog.load_table.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.ui.enabled": "false",
    # Case mapping through the JVM's String.toLowerCase/toUpperCase, not
    # ICU: otherwise the first lower()/upper() in a fresh JVM loads ICU's
    # case-mapping data.  Measured on 4 cores, the first query calling
    # them went from 5.2-5.4 s to 3.6-3.7 s; warm calls are unchanged.
    # Results are identical on ASCII and on the pinned non-ASCII cases
    # (tests/test_session_frames.py).
    "spark.sql.icu.caseMappings.enabled": "false",
    # The generated-class cache defaults to 100 entries; a session running
    # the full query registry generates several hundred codegen sources,
    # so the LRU thrashes and every re-run re-generates + re-JITs its
    # classes from scratch (measured: random 10-50x slowdowns on
    # decimal-heavy aggregation stages whose fresh classes run interpreted
    # until C2 catches up).  A big cache keeps class identity stable, so
    # repeated plans reuse already-compiled code.
    "spark.sql.codegen.cache.maxEntries": "5000",
    # Whole-stage codegen of wide plans (multi-aggregate signatures,
    # higher-order array expressions) generates enough JIT-compiled code
    # to exhaust the default 240MB code cache mid-session, after which the
    # JVM silently falls back to interpreted execution (measured: 5-20x
    # slowdowns appearing intermittently). Reserve a big segmented cache
    # and allow flushing, on both driver (local mode) and executors.
    # CICompilerCount: more JIT compiler threads drain the compile queue
    # faster after each new batch of generated classes — shrinks the
    # window where hot loops run interpreted.
    "spark.driver.extraJavaOptions":
        "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing "
        "-XX:+SegmentedCodeCache -XX:CICompilerCount=8",
    "spark.executor.extraJavaOptions":
        "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing "
        "-XX:+SegmentedCodeCache -XX:CICompilerCount=8",
}


def _local_cores() -> int:
    n = os.environ.get("SPARK_GRAFT_CPUS")
    if n:
        return int(n)
    return os.cpu_count() or 4


def _local_shuffle_dir() -> str | None:
    """tmpfs shuffle/spill dir for LOCAL mode only.

    Measured (sf10, tpch_q12, 14 runs): with spark.local.dir on the root
    disk, steady-state 1.7-2.8 s runs were punctuated by intermittent
    10-22 s outliers — dirty-page writeback stalls on shuffle files (GC
    exonerated: max pause 41 ms in -Xlog:gc over the same spikes).  On
    /dev/shm the same workload holds 1.4-2.2 s with zero outliers.  This
    is a single-host bench-profile choice: on a real cluster
    spark.local.dir comes from the deployment (executor-local NVMe), and
    this helper never overrides an explicit setting
    (SPARK_GRAFT_LOCAL_DIR or spark.local.dir via extra_confs)."""
    override = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if override:
        return override
    if not os.path.isdir("/dev/shm"):
        return None
    base = "/dev/shm/lingo_db_spark_local"
    # Spark removes its app dirs on clean SparkContext.stop; a killed JVM
    # leaks its dir into RAM.  Best-effort sweep of stale app dirs (no
    # mtime refresh in >12h means the owning session is long dead).
    try:
        import shutil
        import time as _time
        cutoff = _time.time() - 12 * 3600
        for entry in os.scandir(base):
            if entry.is_dir(follow_symlinks=False) and entry.stat().st_mtime < cutoff:
                shutil.rmtree(entry.path, ignore_errors=True)
    except OSError:
        pass
    return base


def build_session(app_name: str = "lingo_db_spark", master: str | None = None,
                  shuffle_partitions: int | None = None,
                  extra_confs: dict[str, str] | None = None) -> SparkSession:
    """Create (or get) the engine SparkSession.

    In local mode, shuffle partitions default to the core count — the
    per-query equivalent of the reference's ``numWorkers =
    hardware_concurrency`` (reference src/scheduler/Scheduler.cpp:365).
    On a cluster, leave ``master`` unset and size shuffle partitions to
    ~2-3x total executor cores (or rely on AQE coalescing from a high
    initial value).
    """
    cores = _local_cores()
    builder = SparkSession.builder.appName(app_name)
    builder = builder.master(master or f"local[{cores}]")
    for k, v in ENGINE_CONFS.items():
        builder = builder.config(k, v)
    builder = builder.config(
        "spark.sql.shuffle.partitions", str(shuffle_partitions or cores)
    )
    builder = builder.config("spark.driver.memory",
                             os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
    effective_master = master or f"local[{cores}]"
    shuffle_dir = _local_shuffle_dir()
    if (shuffle_dir and effective_master.startswith("local")
            and not (extra_confs or {}).get("spark.local.dir")):
        builder = builder.config("spark.local.dir", shuffle_dir)
    # Deployment/experiment overrides (highest precedence below explicit
    # extra_confs): SPARK_GRAFT_EXTRA_CONFS="key=value;key2=value2".
    # Keeps scale-dependent settings parameterisable without code edits —
    # the bench A/B harness and a real cluster profile both ride this.
    for pair in os.environ.get("SPARK_GRAFT_EXTRA_CONFS", "").split(";"):
        if "=" in pair:
            k, _, v = pair.partition("=")
            builder = builder.config(k.strip(), v.strip())
    for k, v in (extra_confs or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows: list,
                schema: T.StructType | str) -> DataFrame:
    """Driver-side rows as a DataFrame over a ``LocalRelation``.

    The rows go to the JVM as one Arrow table, so the plan holds the
    data itself: reading it runs no Python tasks, and an empty frame has
    zero partitions and runs no tasks at all.  ``createDataFrame(list)``
    instead binds a pickled Python RDD (4 partitions here) that every
    read scans with Python workers (measured on 4 cores: a first read
    2.3-3.3 s against 0.2-1.4 s, later reads 0.5-0.7 s against 0.1-0.2
    s).  ``rows`` are tuples in ``schema`` order; ``schema`` is a
    StructType or a DDL string."""
    from pyspark.sql.types import _parse_datatype_string

    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    if not rows:
        # nothing to ship: the JVM builds the empty LocalRelation itself
        # (~10 ms warm, a third of an empty Arrow round trip)
        js = spark._jsparkSession
        return DataFrame(js.createDataFrame(spark._jvm.java.util.ArrayList(),
                                            js.parseDataType(schema.json())),
                         spark)
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows))
    for i, f in enumerate(schema.fields):
        if isinstance(f.dataType, T.TimestampType):
            # naive datetimes are local time, as createDataFrame reads them
            cols[i] = [v.astimezone() if v is not None and v.tzinfo is None
                       else v for v in cols[i]]
    table = pa.Table.from_arrays(
        [pa.array(c, type=t.type) for c, t in zip(cols, arrow_schema)],
        schema=arrow_schema)
    return spark.createDataFrame(table, schema)


def stop_session() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
