"""Benchmark-side tracing for ``--trace 1`` runs.

Everything here lives outside the engine:

* ``Tracer.install`` wraps the public functions (and public methods of
  classes) of every ``lingo_db_spark`` module except the query modules,
  before ``load_all()`` imports those, so their ``from ... import`` call
  sites bind the wrappers.  Each call becomes a span named after its
  module; the layer is the module's top-level name (``functions``,
  ``operators``, ``catalog``, ...).  ``SparkSession.sql`` calls and
  ``DataFrame.createOrReplaceTempView`` binds are counted.
* After each execution, ``take_execution`` reads Catalyst phase times
  from the query's ``QueryExecution.tracker``, job and stage metrics
  from the Spark status store (jobs of the execution's job group), and
  node metrics from the executed plan (exchanges, broadcasts and Python
  nodes with their UDF-boundary metrics).

Spans form the trees query -> build -> module call and
query -> action -> job; each span's self time is its duration minus the
time its children cover.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import pkgutil
import time
from collections import defaultdict

PACKAGE = "lingo_db_spark"
SKIP = (f"{PACKAGE}.queries",)
SQL_DOOR = "connection.Connection.sql"
PYTHON_NODE_SUFFIXES = ("PythonExec", "PandasExec", "ArrowExec")
UDF_METRICS = {"pythonTotalTime": "udf.python_ms",
               "pythonBootTime": "udf.boot_ms",
               "pythonInitTime": "udf.boot_ms",
               "pythonDataSent": "udf.bytes_sent",
               "pythonDataReceived": "udf.bytes_received",
               "pythonNumRowsReceived": "udf.rows_received"}


def _now_ms() -> float:
    return time.time_ns() / 1e6


def _original(module: str, qualname: str):
    """Unpickle target for wrapped functions: executors get the plain
    engine function, never the wrapper or the tracer."""
    obj = importlib.import_module(module)
    for part in qualname.split("."):
        obj = getattr(obj, part)
    return getattr(obj, "__wrapped__", obj)


class _Traced:
    """A traced module-level function (picklable as the original)."""

    def __init__(self, tracer: "Tracer", fn, layer: str, name: str) -> None:
        self._tracer, self._fn = tracer, fn
        self._layer, self._name = layer, name
        functools.update_wrapper(self, fn)

    def __call__(self, *args, **kwargs):
        with self._tracer.span(self._name, self._layer) as sp:
            out = self._fn(*args, **kwargs)
            if (self._layer == "sqlrewrite" and args
                    and isinstance(args[0], str) and isinstance(out, str)):
                sp["applied"] = out != args[0]
            return out

    def __reduce__(self):
        return _original, (self._fn.__module__, self._fn.__qualname__)


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next_id = 0
        self.exec_no = -1            # -1 while setting up
        self.setup_layers: dict[str, float] = {}
        self._pending = None         # (df, span of the query) to harvest
        self._group = ""             # job group of the current execution
        self.spark = None

    # -- spans ------------------------------------------------------------
    def span(self, name: str, layer: str):
        return _Span(self, name, layer)

    def _open(self, name: str, layer: str) -> dict:
        sp = {"id": self._next_id, "exec": self.exec_no, "name": name,
              "layer": layer,
              "parent": self._stack[-1]["id"] if self._stack else None,
              "start_ms": _now_ms(), "child_ms": 0.0}
        self._next_id += 1
        self._stack.append(sp)
        return sp

    def _close(self, sp: dict) -> None:
        sp["end_ms"] = _now_ms()
        dur = sp["end_ms"] - sp["start_ms"]
        self._stack.pop()
        if self._stack:
            self._stack[-1]["child_ms"] += dur
        sp["self_ms"] = dur - sp.pop("child_ms")
        self.spans.append(sp)

    # -- installation -----------------------------------------------------
    def install(self) -> None:
        import lingo_db_spark
        wrapped: dict[int, object] = {}
        modules = []
        for info in pkgutil.walk_packages(lingo_db_spark.__path__,
                                          PACKAGE + "."):
            if info.name.startswith(SKIP):
                continue
            modules.append(importlib.import_module(info.name))
        for mod in modules:
            short = mod.__name__[len(PACKAGE) + 1:]
            layer = short.split(".")[0]
            for attr, obj in list(vars(mod).items()):
                if attr.startswith("_") or getattr(obj, "__module__",
                                                   None) != mod.__name__:
                    continue
                if inspect.isfunction(obj):
                    wrapped[id(obj)] = _Traced(self, obj, layer,
                                               f"{short}.{attr}")
                elif inspect.isclass(obj):
                    self._wrap_methods(obj, layer, f"{short}.{attr}")
        # second pass: rebind every module attribute (re-exports included)
        for mod in [importlib.import_module(PACKAGE), *modules]:
            for attr, obj in list(vars(mod).items()):
                if id(obj) in wrapped:
                    setattr(mod, attr, wrapped[id(obj)])
        self._hook_pyspark()

    def _wrap_methods(self, cls, layer: str, name: str) -> None:
        for attr, fn in list(vars(cls).items()):
            if attr.startswith("_") or not inspect.isfunction(fn):
                continue
            setattr(cls, attr, self._method_wrapper(fn, layer,
                                                    f"{name}.{attr}"))

    def _method_wrapper(self, fn, layer: str, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            conn = args[0] if args else None
            before = getattr(conn, "last_rewritten_sql", None)
            with tracer.span(name, layer) as sp:
                out = fn(*args, **kwargs)
                after = getattr(conn, "last_rewritten_sql", None)
                sp["rewritten"] = after is not None and after is not before
                return out
        return traced

    def _hook_pyspark(self) -> None:
        from pyspark.sql import DataFrame, SparkSession
        tracer = self
        classes = [SparkSession, DataFrame]
        try:
            from pyspark.sql.classic.dataframe import DataFrame as CDF
            classes.append(CDF)
        except ImportError:
            pass
        for cls in classes:
            for attr, layer in (("sql", "spark.sql"),
                                ("createOrReplaceTempView", "spark.view")):
                fn = vars(cls).get(attr)
                if fn is not None:
                    setattr(cls, attr, self._pyspark_wrapper(fn, layer))

    def _pyspark_wrapper(self, fn, layer: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(layer, layer) as sp:
                sp["in_sql_door"] = any(
                    s["name"] == SQL_DOOR for s in tracer._stack)
                return fn(*args, **kwargs)
        return traced

    # -- executions -------------------------------------------------------
    def start_session(self, spark) -> None:
        """Called when setup is done: sums setup spans per layer."""
        self.spark = spark
        self.setup_layers = dict(span_counters(self.spans))
        self.spans = []

    def run_query(self, name: str, build, job_group: str):
        self.exec_no += 1
        self._group = job_group
        with self.span(name, "query") as q:
            with self.span("build", "queries"):
                df = build()
            with self.span("action", "action"):
                rows = df.collect()
        self._pending = (df, q)
        return df, rows

    def take_execution(self) -> dict:
        """Per-layer numbers of the execution that just ended (harvested
        outside its timed region)."""
        spans = [s for s in self.spans if s["exec"] == self.exec_no]
        out = span_counters(spans)
        pending, self._pending = self._pending, None
        if pending is None or self.spark is None:
            return dict(out)
        df, q = pending
        build = next(s for s in spans if s["name"] == "build")
        out["query.wall_ms"] = q["end_ms"] - q["start_ms"]
        out["queries.build_ms"] = build["end_ms"] - build["start_ms"]
        try:
            self._harvest(df, q, build, spans, out)
        except Exception as e:  # noqa: BLE001 - a lost JVM loses only metrics
            out["trace.harvest_errors"] += 1
            print(f"perfbench: trace harvest failed: {e!r}"[:300])
        return dict(out)

    def _harvest(self, df, q: dict, build: dict, spans: list[dict],
                 out: dict) -> None:
        spark = self.spark
        jvm = spark._jvm
        conv = jvm.scala.collection.JavaConverters
        qe = df._jdf.queryExecution()
        phases = conv.mapAsJavaMap(qe.tracker().phases())
        for k in ("analysis", "optimization", "planning"):
            ph = phases.get(k)
            out[f"catalyst.{k}_ms"] += ph.durationMs() if ph is not None else 0
        sc = spark.sparkContext
        store = sc._jsc.sc().statusStore()
        gw = sc._gateway
        empty = gw.new_array(gw.jvm.double, 0)
        jobs = sorted(sc.statusTracker().getJobIdsForGroup(self._group))
        action_jobs = []
        by_owner: dict[int, tuple[dict, list]] = {}
        for jid in jobs:
            jd = store.job(jid)
            sub = jd.submissionTime()
            end = jd.completionTime()
            t0 = sub.get().getTime() if sub.isDefined() else q["start_ms"]
            t1 = end.get().getTime() if end.isDefined() else q["end_ms"]
            job = {"id": self._next_id, "exec": self.exec_no,
                   "name": f"job{jid}", "layer": "exec",
                   "start_ms": float(t0), "end_ms": float(t1)}
            self._next_id += 1
            # a job belongs to the innermost span that was open when it
            # was submitted (driver calls are single-threaded)
            owner = min((s for s in spans
                         if s["start_ms"] <= t0 <= s["end_ms"]),
                        key=lambda s: s["end_ms"] - s["start_ms"],
                        default=q)
            job["parent"] = owner["id"]
            job["self_ms"] = float(t1 - t0)
            self.spans.append(job)
            by_owner.setdefault(owner["id"], (owner, []))[1].append(
                (max(t0, owner["start_ms"]), min(t1, owner["end_ms"])))
            out["exec.jobs"] += 1
            if build["start_ms"] <= t0 <= build["end_ms"]:
                out["queries.build_jobs"] += 1
            else:
                action_jobs.append((t0, t1))
            for layer in ("operators", "pipeline"):
                if any(s["layer"] == layer and s["start_ms"] <= t0 <= s["end_ms"]
                       for s in spans):
                    out[f"{layer}.jobs"] += 1
            ids = jd.stageIds()
            for i in range(ids.size()):
                attempts = store.stageData(ids.apply(i), False, None, False,
                                           empty)
                for a in range(attempts.size()):
                    _add_stage(attempts.apply(a), out)
        # the driver waits on its jobs: that part is not the owner's self time
        for owner, intervals in by_owner.values():
            owner["self_ms"] -= _union_ms(intervals)
        out["exec.job_wall_ms"] = _union_ms(
            [(s["start_ms"], s["end_ms"]) for s in self.spans
             if s["exec"] == self.exec_no and s["layer"] == "exec"])
        action_wall = _union_ms(action_jobs)
        out["exec.action_job_wall_ms"] = action_wall
        out["driver.residual_ms"] = (
            out["query.wall_ms"] - out["queries.build_ms"]
            - out["catalyst.optimization_ms"] - out["catalyst.planning_ms"]
            - action_wall)
        _walk_plan(conv, qe.executedPlan(), out)

    def write_spans(self, path) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class _Span:
    def __init__(self, tracer: Tracer, name: str, layer: str) -> None:
        self.t, self.name, self.layer = tracer, name, layer

    def __enter__(self) -> dict:
        self.sp = self.t._open(self.name, self.layer)
        return self.sp

    def __exit__(self, *exc) -> None:
        self.t._close(self.sp)


def _add_stage(st, out: dict) -> None:
    status = st.status().toString()
    if status == "SKIPPED":
        out["exec.stages_skipped"] += 1
        return
    out["exec.stages"] += 1
    out["exec.tasks"] += st.numCompleteTasks()
    out["exec.run_ms"] += st.executorRunTime()
    out["exec.cpu_ms"] += st.executorCpuTime() / 1e6
    out["exec.gc_ms"] += st.jvmGcTime()
    out["exec.shuffle_read_bytes"] += st.shuffleReadBytes()
    out["exec.shuffle_write_bytes"] += st.shuffleWriteBytes()
    out["exec.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    out["exec.input_bytes"] += st.inputBytes()
    out["exec.output_bytes"] += st.outputBytes()


def _walk_plan(conv, node, out: dict) -> None:
    """Counts exchanges, broadcasts and Python nodes and sums their
    metrics, looking through AQE and query-stage wrappers (as
    tools/profile_query.py does)."""
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return _walk_plan(conv, node.executedPlan(), out)
    if cls.endswith("QueryStageExec"):
        return _walk_plan(conv, node.plan(), out)
    if cls == "ShuffleExchangeExec":
        out["plan.exchanges"] += 1
    elif cls == "BroadcastExchangeExec":
        m = _metrics(conv, node)
        out["plan.broadcasts"] += 1
        out["broadcast.build_ms"] += m.get("buildTime", 0)
        out["broadcast.bytes"] += m.get("dataSize", 0)
    elif cls.endswith(PYTHON_NODE_SUFFIXES):
        m = _metrics(conv, node)
        out["plan.python_nodes"] += 1
        for k, name in UDF_METRICS.items():
            out[name] += m.get(k, 0)
    it = node.children().iterator()
    while it.hasNext():
        _walk_plan(conv, it.next(), out)


def _metrics(conv, node) -> dict[str, int]:
    return {k: v.value() for k, v in
            conv.mapAsJavaMap(node.metrics()).items()}


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def span_counters(spans: list[dict]) -> dict[str, float]:
    """Generic counters over spans: per layer ``busy.<layer>`` (ms) and
    ``layercalls.<layer>``; per span name ``calls.<name>``, ``ms.<name>``
    and one count per set flag (``applied.``, ``rewritten.``,
    ``in_sql_door.``)."""
    out: dict[str, float] = defaultdict(float)
    for layer, ms in _layer_busy_ms(spans).items():
        out[f"busy.{layer}"] = ms
    for s in spans:
        out[f"layercalls.{s['layer']}"] += 1
        out[f"calls.{s['name']}"] += 1
        out[f"ms.{s['name']}"] += s["end_ms"] - s["start_ms"]
        for flag in ("applied", "rewritten", "in_sql_door"):
            if s.get(flag):
                out[f"{flag}.{s['name']}"] += 1
    return out


def _layer_busy_ms(spans: list[dict]) -> dict[str, float]:
    """Wall time inside each layer: outermost spans of the layer only, so
    a layer calling itself is counted once."""
    by_id = {s["id"]: s for s in spans}
    busy: dict[str, float] = defaultdict(float)
    for s in spans:
        p = by_id.get(s["parent"])
        while p is not None and p["layer"] != s["layer"]:
            p = by_id.get(p["parent"])
        if p is None:
            busy[s["layer"]] += s["end_ms"] - s["start_ms"]
    return dict(busy)
