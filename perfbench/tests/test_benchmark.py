"""Self-tests of the benchmark itself.

    python3 -m pytest perfbench/tests -q

Most tests need no Spark session.  ``test_traced_tpch_bypasses_udf_and_door``
runs one real traced ``tpch`` run (about a minute and a half).
"""

from __future__ import annotations

import io
import json
import pickle
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
BENCH = HERE.parent
ROOT = BENCH.parent
sys.path.insert(0, str(ROOT))

from perfbench import layers, metrics  # noqa: E402
from perfbench.digest import digest  # noqa: E402
from perfbench.run import DEFAULT_PINS  # noqa: E402
from perfbench.worker import Runner  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


# -- a Spark stand-in for the execution loop ------------------------------
class _Df:
    def __init__(self, rows):
        self.columns = ["a", "b"]
        self._rows = rows

    def collect(self):
        return self._rows


class _Ctx:
    class _jsc:                  # a live session: the context is running
        @staticmethod
        def sc():
            return type("SC", (), {"isStopped": lambda self: False})()

    def setJobGroup(self, *a, **k):
        pass

    def cancelJobGroup(self, *a):
        pass


class _Catalog:
    def clearCache(self):
        pass


class _Spark:
    sparkContext = _Ctx()
    catalog = _Catalog()


class _Spec:
    def __init__(self, fn):
        self.spark_fn = fn


def _boom(spark, sf_dir):
    raise RuntimeError("query failed")


GOOD_ROWS = [(1, "x"), (2, "y")]
REGISTRY = {
    "good": _Spec(lambda spark, sf: _Df(GOOD_ROWS)),
    "bad": _Spec(_boom),
    "wrong": _Spec(lambda spark, sf: _Df([(1, "x"), (3, "z")])),
}
EXPECTED = {n: digest(["a", "b"], GOOD_ROWS) for n in REGISTRY}


def _run(names):
    runner = Runner(_Spark(), REGISTRY, "unused", EXPECTED, io.StringIO())
    records = [runner.execute(n, 0, i) for i, n in enumerate(names)]
    summary = {"setup_s": 1.0, "passes": 1, "measured_s": 2.0,
               "cpu_s": 1.0, "peak_rss_mb": 1.0}
    return records, metrics.end_to_end(records, summary)


def test_raising_query_counts_as_failed_and_adds_no_latency():
    records, e2e = _run(["good", "bad", "good"])
    assert [r["status"] for r in records] == ["ok", "failed", "ok"]
    assert records[1]["error"] == "RuntimeError"
    assert e2e["ok_frac"] == pytest.approx(2 / 3)
    assert e2e["qps"] == pytest.approx(2 / 2.0)
    ok_walls = [records[0]["wall_ms"], records[2]["wall_ms"]]
    assert e2e["latency_geomean_ms"] == pytest.approx(
        (ok_walls[0] * ok_walls[1]) ** 0.5)


def test_wrong_digest_counts_and_adds_no_latency():
    records, e2e = _run(["wrong", "good"])
    assert records[0]["status"] == "wrong_result"
    assert e2e["ok_frac"] == pytest.approx(0.5)
    assert e2e["latency_geomean_ms"] == pytest.approx(records[1]["wall_ms"])
    assert e2e["latency_tail_mean_ms"] == pytest.approx(records[1]["wall_ms"])
    assert metrics.status_counts(records)["wrong_result"] == 1


def test_latency_summaries():
    assert metrics.geomean([1.0, 4.0, 16.0]) == pytest.approx(4.0)
    # slowest quarter of 22 samples: the 6 largest
    assert metrics.tail_mean([float(i) for i in range(1, 23)]) == \
        pytest.approx(sum(range(17, 23)) / 6)


def test_dead_session_fails_the_rest_of_the_pass():
    class Stopped(_Ctx):
        class _jsc:
            @staticmethod
            def sc():
                return type("SC", (), {"isStopped": lambda self: True})()

    spark = _Spark()
    spark.sparkContext = Stopped()
    runner = Runner(spark, REGISTRY, "unused", EXPECTED, io.StringIO())
    records = [runner.execute(n, 0, i)
               for i, n in enumerate(["good", "bad", "good"])]
    assert [r["status"] for r in records] == ["ok", "failed", "failed"]
    assert records[2]["error"] == "SessionDead"


def test_unrun_queries_of_a_broken_pass_count_as_failed():
    records = [{"query": "a", "pass": 0, "status": "ok", "wall_ms": 1.0}]
    missing = metrics.unrun(("a", "b", "c"), records)
    assert [r["query"] for r in missing] == ["b", "c"]
    assert all(r["status"] == "failed" for r in missing)


def test_digest_ignores_row_and_column_order_and_is_exact():
    rows = [(1, 0.1, "x"), (2, -0.0, None)]
    d = digest(["k", "v", "s"], rows)
    assert d == digest(["s", "k", "v"], [(r[2], r[0], r[1]) for r in rows[::-1]])
    assert d == digest(["k", "v", "s"], [(1, 0.1, "x"), (2, 0.0, None)])
    assert d != digest(["k", "v", "s"], [(1, 0.1 + 1e-16, "x"), (2, 0.0, None)])
    assert d["rows"] == 2


def test_metric_names_and_units_match_benchmark_json():
    e2e = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert e2e == metrics.E2E_UNITS
    per_layer = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert per_layer == layers.UNITS
    assert {w["name"] for w in SPEC["workloads"]} == set(
        __import__("perfbench.workloads").workloads.WORKLOADS)


def test_command_records_the_pinned_settings():
    cmd = SPEC["command"]
    pins = dict(cmd[i + 1].split("=", 1)
                for i, a in enumerate(cmd) if a == "--pin")
    assert pins == DEFAULT_PINS


_CHECK_WRAPPERS = """
import inspect, pkgutil, sys, importlib
sys.path.insert(0, {root!r})
from perfbench.worker import load_engine
tracer, registry = load_engine({trace})
import lingo_db_spark
from perfbench import tracing
wrapped = 0
for info in pkgutil.walk_packages(lingo_db_spark.__path__, "lingo_db_spark."):
    mod = importlib.import_module(info.name)
    wrapped += sum(isinstance(v, tracing._Traced) for v in vars(mod).values())
from lingo_db_spark.queries import tpch
print(wrapped, isinstance(vars(tpch).get("dsum"), tracing._Traced))
"""


def _wrapper_count(trace: bool) -> list[str]:
    out = subprocess.run(
        [sys.executable, "-c", _CHECK_WRAPPERS.format(root=str(ROOT),
                                                      trace=trace)],
        capture_output=True, text=True, check=True, cwd=ROOT)
    return out.stdout.split()


def test_untraced_run_installs_no_wrapper():
    assert _wrapper_count(False) == ["0", "False"]


def test_traced_run_wraps_before_queries_bind():
    n, bound = _wrapper_count(True)
    assert int(n) > 100 and bound == "True"


def test_traced_function_pickles_as_the_original():
    from pyspark import cloudpickle

    from perfbench import tracing
    tracer = tracing.Tracer()
    tracer.install()
    from lingo_db_spark import functions
    assert isinstance(functions.dsum, tracing._Traced)
    back = pickle.loads(cloudpickle.dumps(functions.dsum))
    assert not isinstance(back, tracing._Traced)
    assert back.__name__ == "dsum"


def test_traced_tpch_bypasses_udf_and_door(tmp_path):
    rec = tmp_path / "rec.json"
    out = subprocess.run(
        [sys.executable, str(BENCH / "run.py"), "--workload", "tpch",
         "--seed", "7", "--seconds", "1", "--trace", "1",
         "--record", str(rec)],
        capture_output=True, text=True, cwd=ROOT, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert set(m) == set(layers.UNITS)
    assert result["correct"] and result["failed"] == 0
    for k, v in m.items():
        if k.startswith(("udf.", "connection.")):
            assert v == 0, k
    assert m["exec.jobs"] > 0 and m["queries.build_ms"] > 0
    assert m["functions.calls"] > 0
