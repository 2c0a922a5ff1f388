"""Writes a committed evidence file for one workload: an untraced and a
traced run of the same seed, the tracing overhead (traced minus untraced)
for every end-to-end metric, and per query the layer counters and span
self times of the traced run.

    python3 perfbench/report.py --workload tpch --seed 1 --out perfbench/results/tpch.json
"""

from __future__ import annotations

import argparse
import json
import sys
import tempfile
from collections import defaultdict
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

from perfbench import run  # noqa: E402


def _run(workload: str, seed: int, seconds: float, trace: int,
         path: Path) -> dict:
    rc = run.main(["--workload", workload, "--seed", str(seed),
                   "--seconds", str(seconds), "--trace", str(trace),
                   "--record", str(path)])
    if rc != 0:
        raise SystemExit(f"{workload} trace={trace} run failed ({rc})")
    return json.loads(path.read_text())


def self_ms_by_layer(spans: list[dict]) -> dict[int, dict[str, float]]:
    """Per execution: summed span self time per layer."""
    out: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for s in spans:
        out[s["exec"]][s["layer"]] += s["self_ms"]
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    state = HERE.parent / ".perfbench"
    state.mkdir(exist_ok=True)
    with tempfile.TemporaryDirectory(dir=state) as tmp:
        plain = _run(a.workload, a.seed, a.seconds, 0, Path(tmp) / "p.json")
        traced = _run(a.workload, a.seed, a.seconds, 1, Path(tmp) / "t.json")
    e2e = {k: v["value"] for k, v in plain["result"]["metrics"].items()}
    layer = {k: v["value"] for k, v in traced["result"]["metrics"].items()}
    spans = [json.loads(line) for line in traced["spans"]]
    self_ms = self_ms_by_layer(spans)
    queries = []
    for r in traced["records"]:
        queries.append({
            "query": r["query"], "status": r["status"],
            "error": r.get("error"), "wall_ms": r.get("wall_ms"),
            "layers": r.get("layers", {}),
            "self_ms_by_layer": dict(self_ms.get(r.get("exec"), {})),
        })
    report = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "untraced": {"result": plain["result"],
                     "host": plain["summary"]["host"],
                     "statuses": [[r["query"], r["status"], r.get("error")]
                                  for r in plain["records"]]},
        "traced": {"result": traced["result"],
                   "host": traced["summary"]["host"],
                   "setup_layers": traced["summary"].get("setup_layers")},
        "tracing_overhead": {k: layer[f"traced.{k}"] - v
                             for k, v in e2e.items()},
        "queries": queries,
    }
    Path(a.out).parent.mkdir(parents=True, exist_ok=True)
    Path(a.out).write_text(json.dumps(report, indent=1) + "\n")
    print(json.dumps(report["tracing_overhead"]))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
