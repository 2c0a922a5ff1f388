"""Benchmark entry point: one workload run, one JSON result line.

    python3 perfbench/run.py --workload tpch --seed 1 --seconds 10 --trace 0

Builds the input tables on first use (``datagen.py``, into
``.perfbench/data`` under the checkout), then runs the workload in a fresh
worker process with pinned settings and its own scratch directory (its
TMPDIR, Spark local and warehouse directories and working directory),
which is removed at exit.  Every result is checked against the digests in
``expected.json``.  The last line of stdout is
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``.  Non-ok
queries and host-noise evidence go to stderr; ``--record PATH`` also
keeps the full run (every execution, and spans when traced).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

from perfbench import metrics  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

SF = 0.1
DATA_SEED = 42
RUN_DEADLINE_S = 170.0
# Settings every run pins; BENCHMARK.json's command repeats them with
# --pin.  "nproc" stands for the number of CPUs this process may use.
# The driver JVM runs C1-compiled code only: in a fresh session's one
# pass the C2 compiler threads took a third of the JVM's CPU and kept
# all 4 cores busy, so host steal slowed whole runs by up to 30%.  Its
# heap starts at its maximum (-Xms = SPARK_GRAFT_DRIVER_MEM): a growing
# heap left peak RSS at 1.9 or 2.5 GB, run to run, on identical work.
DEFAULT_PINS = {
    "TZ": "UTC",
    "SPARK_GRAFT_CPUS": "nproc",
    "SPARK_GRAFT_DRIVER_MEM": "2g",
    "SPARK_GRAFT_EXTRA_CONFS": "spark.ui.showConsoleProgress=false;"
                               "spark.driver.extraJavaOptions="
                               "-XX:TieredStopAtLevel=1 -Xms2g",
}


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def ensure_data(state_dir: Path) -> Path:
    data = state_dir / "data" / f"sf{SF}-seed{DATA_SEED}"
    if (data / "COMPLETE").exists():
        return data
    from perfbench.datagen import write_tables
    data.parent.mkdir(parents=True, exist_ok=True)
    staging = Path(tempfile.mkdtemp(prefix="gen-", dir=data.parent))
    try:
        write_tables(str(staging), SF, DATA_SEED)
        (staging / "COMPLETE").write_text("")
        shutil.rmtree(data, ignore_errors=True)
        os.replace(staging, data)
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return data


def worker_env(pins: dict[str, str], scratch: Path) -> dict[str, str]:
    env = dict(os.environ)
    for k, v in pins.items():
        env[k] = str(len(os.sched_getaffinity(0))) if v == "nproc" else v
    for sub in ("tmp", "local", "warehouse", "work", "out"):
        (scratch / sub).mkdir()
    env.update({
        "TMPDIR": str(scratch / "tmp"),
        "SPARK_GRAFT_LOCAL_DIR": str(scratch / "local"),
        "SPARK_LOCAL_DIRS": str(scratch / "local"),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={scratch / 'tmp'} "
                             "-XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(
            [str(ROOT)] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH")
                           else [])),
    })
    env["SPARK_GRAFT_EXTRA_CONFS"] = ";".join(filter(None, [
        env.get("SPARK_GRAFT_EXTRA_CONFS", ""),
        f"spark.sql.warehouse.dir={scratch / 'warehouse'}"]))
    return env


def stop_group(proc: subprocess.Popen) -> None:
    """Kill whatever is left of the worker's process group (JVM, Python
    workers) and wait until all of it has ended.  Nothing in the group
    holds state worth a clean shutdown: its scratch directory goes too."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)
    log("processes of the worker group outlived SIGKILL")


def run_worker(args, pins: dict[str, str], data: Path, scratch: Path,
               started: float) -> tuple[list[dict], dict | None]:
    env = worker_env(pins, scratch)
    out = scratch / "out"
    spawn = time.time()
    wargs = {"workload": args.workload, "seed": args.seed,
             "seconds": args.seconds, "trace": bool(args.trace),
             "sf_dir": str(data), "out_dir": str(out),
             "expected": str(HERE / "expected.json"), "spawn_time": spawn}
    with open(scratch / "worker.log", "w") as wlog:
        proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.worker", json.dumps(wargs)],
            cwd=scratch / "work", env=env, stdout=wlog, stderr=wlog,
            stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            proc.wait(timeout=max(1.0, RUN_DEADLINE_S -
                                  (time.time() - started)))
        except subprocess.TimeoutExpired:
            log("worker passed the run deadline; stopping it")
        finally:
            stop_group(proc)
    rec_path = out / "records.jsonl"
    records = []
    if rec_path.exists():
        records = [json.loads(line) for line in
                   rec_path.read_text().splitlines() if line.strip()]
    summary = None
    if (out / "summary.json").exists():
        summary = json.loads((out / "summary.json").read_text())
    if summary is None or proc.returncode != 0:
        tail = (scratch / "worker.log").read_text(errors="replace")[-4000:]
        log(f"worker exited with {proc.returncode}; log tail:\n{tail}")
    return records, summary


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="lingo_db_spark benchmark run")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin", action="append", default=[],
                    metavar="NAME=VALUE",
                    help="pinned environment setting for the worker")
    ap.add_argument("--record", metavar="PATH",
                    help="also write the full run record here")
    args = ap.parse_args(argv)
    started = time.time()
    pins = dict(DEFAULT_PINS)
    pins.update(p.split("=", 1) for p in args.pin)
    if not (ROOT / "lingo_db_spark").is_dir():
        log(f"no lingo_db_spark package under {ROOT}")
        return 2
    state = ROOT / ".perfbench"
    data = ensure_data(state)
    (state / "runs").mkdir(parents=True, exist_ok=True)
    scratch = Path(tempfile.mkdtemp(prefix="run-", dir=state / "runs"))
    try:
        records, summary = run_worker(args, pins, data, scratch, started)
        spans = scratch / "out" / "spans.jsonl"
        spans = spans.read_text() if spans.exists() else ""
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    if summary is None and not records:
        log("the worker produced no result")
        return 1
    if summary is None:
        log("the worker ended early: queries it never ran count as failed")
        records += metrics.unrun(WORKLOADS[args.workload].queries, records)
    return finish(args, records, summary, spans)


def finish(args, records: list[dict], summary: dict | None,
           spans: str) -> int:
    counts = metrics.status_counts(records)
    bad = metrics.non_ok(records)
    if bad:
        log("non-ok queries: " + json.dumps(bad))
    if summary is None:
        return 1
    log("host noise: " + json.dumps(summary["host"]))
    if counts["ok"] == 0:
        log("no execution succeeded: latency is undefined")
        return 1
    if args.trace:
        from perfbench import layers
        values = layers.per_layer(records, summary)
        units = layers.UNITS
    else:
        values = metrics.end_to_end(records, summary)
        units = metrics.E2E_UNITS
    result = {
        "correct": counts["wrong_result"] == 0,
        "attempted": len(records),
        "failed": len(records) - counts["ok"],
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in values.items()},
    }
    if args.record:
        Path(args.record).write_text(json.dumps({
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "summary": summary, "records": records, "result": result,
            "spans": spans.splitlines()}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
