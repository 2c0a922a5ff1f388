"""One workload run inside a fresh process (started by ``run.py``).

Sets up one Spark session, then runs the workload's queries back to back
(closed loop, one client) in passes whose order is shuffled from the seed,
until the measuring time is used up.  Every execution is written to
``records.jsonl`` as soon as it ends, so a run that dies part-way still
reports what it did; the summary goes to ``summary.json``.

Usage (from ``run.py``): python3 -m perfbench.worker ARGS_JSON
"""

from __future__ import annotations

import json
import os
import random
import sys
import threading
import time
from pathlib import Path

from perfbench import procfs
from perfbench.digest import digest
from perfbench.workloads import WORKLOADS

QUERY_TIMEOUT_S = 60.0
# How far (in places) a pass may move a query from its listed position.
# A full shuffle decides which queries run while the engine is still cold,
# and at one pass per run that moved latency percentiles by 20-30%
# between seeds; a local shuffle still varies which query runs next to
# which (writes against nearby reads) from seed to seed.
JITTER = 3


def pass_order(queries: tuple[str, ...], seed: int, pass_no: int) -> list[str]:
    rng = random.Random(f"{seed}:{pass_no}")
    keys = [i + rng.uniform(0, JITTER) for i in range(len(queries))]
    return [q for _, q in sorted(zip(keys, queries))]


class Runner:
    """Runs executions and records one status per execution."""

    def __init__(self, spark, registry, sf_dir: str, expected: dict,
                 records, tracer=None) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.registry = registry
        self.sf_dir = sf_dir
        self.expected = expected
        self.records = records
        self.tracer = tracer
        self.session_dead = False

    def execute(self, name: str, pass_no: int, seq: int) -> dict:
        rec = {"query": name, "pass": pass_no, "seq": seq}
        if self.session_dead:
            rec.update(status="failed", error="SessionDead", wall_ms=None)
            return self._emit(rec, ran=False)
        group = f"perfbench-{pass_no}-{seq}"
        timed_out = threading.Event()

        def cancel() -> None:
            timed_out.set()
            self.sc.cancelJobGroup(group)

        self.sc.setJobGroup(group, name, interruptOnCancel=True)
        timer = threading.Timer(QUERY_TIMEOUT_S, cancel)
        timer.start()
        t0 = time.perf_counter()
        try:
            if self.tracer is not None:
                df, rows = self.tracer.run_query(
                    name, lambda: self.registry[name].spark_fn(
                        self.spark, self.sf_dir), group)
            else:
                df = self.registry[name].spark_fn(self.spark, self.sf_dir)
                rows = df.collect()
            rec["wall_ms"] = (time.perf_counter() - t0) * 1000.0
        except Exception as e:  # noqa: BLE001 - one query must not end the run
            rec.update(status="timeout" if timed_out.is_set() else "failed",
                       error=type(e).__name__, detail=str(e)[:300],
                       wall_ms=(time.perf_counter() - t0) * 1000.0)
            if _is_session_loss(e, self.sc):
                self.session_dead = True
            return self._emit(rec)
        finally:
            timer.cancel()
            if not self.session_dead:
                try:
                    self.sc.setJobGroup("", "")
                    self.spark.catalog.clearCache()
                except Exception:  # noqa: BLE001
                    self.session_dead = True
        got = digest(df.columns, rows)
        want = self.expected.get(name)
        if want is None or want != got:
            rec.update(status="wrong_result", error="DigestMismatch",
                       detail=f"expected {want}")
        else:
            rec.update(status="ok", error=None)
        rec["result"] = got
        return self._emit(rec)

    def _emit(self, rec: dict, ran: bool = True) -> dict:
        if self.tracer is not None and ran:
            rec["layers"] = self.tracer.take_execution()
            rec["exec"] = self.tracer.exec_no
        self.records.write(json.dumps(rec) + "\n")
        self.records.flush()
        return rec


def _is_session_loss(exc: Exception, sc) -> bool:
    if type(exc).__name__ in ("Py4JNetworkError", "ConnectionRefusedError",
                              "EOFError", "BrokenPipeError"):
        return True
    try:
        return sc._jsc.sc().isStopped()
    except Exception:  # noqa: BLE001 - no answer from the JVM: it is gone
        return True


def _identity(batches):
    yield from batches


def prep(spark, wl) -> None:
    """Workload prep, part of set-up: warms the engine's shared paths
    (one scan-join-aggregate job through the DataFrame API, one through
    SQL text) and, for a workload with Python UDFs, boots the Python
    worker pool (one Arrow UDF task per core).  Without it, the first
    queries of the cold pass also absorb the JVM's warm-up, which made
    their latencies swing with host load."""
    from pyspark.sql import functions as F
    if wl.python_udfs:
        cores = spark.sparkContext.defaultParallelism
        spark.range(0, 64 * cores, numPartitions=cores).mapInPandas(
            _identity, "id long").collect()
    li = spark.table("lineitem")
    li.join(spark.table("orders"), li.l_orderkey == F.col("o_orderkey")) \
        .groupBy("o_orderpriority").agg(F.sum("l_extendedprice")).collect()
    spark.sql("SELECT n_name, count(*) FROM customer JOIN nation "
              "ON c_nationkey = n_nationkey GROUP BY n_name").collect()


def load_engine(trace: bool):
    """Imports the engine's query registry; with ``trace`` the wrappers
    go in first, so the query modules bind them."""
    tracer = None
    if trace:
        from perfbench.tracing import Tracer
        tracer = Tracer()
        tracer.install()
    from lingo_db_spark.queries import load_all
    return tracer, load_all()


def main(args: dict) -> int:
    out = Path(args["out_dir"])
    wl = WORKLOADS[args["workload"]]
    expected = json.loads(Path(args["expected"]).read_text())
    tracer, registry = load_engine(args["trace"])
    from lingo_db_spark.catalog import register_views
    from lingo_db_spark.session import build_session

    missing = [q for q in wl.queries if q not in registry]
    if missing:
        raise SystemExit(f"unregistered queries: {missing}")
    spark = build_session(f"perfbench-{wl.name}")
    register_views(spark, args["sf_dir"])
    prep(spark, wl)
    setup_s = time.time() - args["spawn_time"]
    if tracer is not None:
        tracer.start_session(spark)
    me = os.getpid()
    summary: dict = {"setup_s": setup_s, "passes": 0}
    with open(out / "records.jsonl", "w") as records:
        runner = Runner(spark, registry, args["sf_dir"], expected,
                        records, tracer)
        noise = procfs.HostNoise(me)
        cpu0 = procfs.tree_cpu_s(me)
        t0 = time.perf_counter()
        seq = 0
        while True:
            for name in pass_order(wl.queries, args["seed"], summary["passes"]):
                runner.execute(name, summary["passes"], seq)
                seq += 1
            summary["passes"] += 1
            if (runner.session_dead
                    or time.perf_counter() - t0 >= args["seconds"]):
                break
        summary["measured_s"] = time.perf_counter() - t0
        summary["cpu_s"] = procfs.tree_cpu_s(me) - cpu0
        summary["host"] = noise.finish()
    jvm = procfs.find_jvm(me)
    summary["peak_rss_mb"] = procfs.vm_hwm_mb(me) + (
        procfs.vm_hwm_mb(jvm) if jvm else 0.0)
    if tracer is not None:
        summary["setup_layers"] = tracer.setup_layers
        tracer.write_spans(out / "spans.jsonl")
    (out / "summary.json").write_text(json.dumps(summary))
    # No spark.stop(): run.py kills the JVM and Python workers with the
    # process group, and a clean stop would only add seconds to every run.
    sys.stdout.flush()
    os._exit(0)


if __name__ == "__main__":
    raise SystemExit(main(json.loads(sys.argv[1])))
