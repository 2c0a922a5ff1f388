"""Runs the benchmark command from BENCHMARK.json on several seeds and
prints, per end-to-end metric, the median and the interquartile spread
as a share of the median (``statistics.quantiles(values, n=4)``), next
to the metric's bound.

    python3 perfbench/spread.py --workload tpch --seeds 1-10 [--out FILE]
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
HOST_LINE = "perfbench: host noise: "


def spreads(values: dict[str, list[float]]) -> dict[str, dict]:
    out = {}
    for k, xs in values.items():
        q1, med, q3 = statistics.quantiles(xs, n=4)
        out[k] = {"median": statistics.median(xs),
                  "iqr_share": (q3 - q1) / med if med else 0.0}
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="first-last")
    ap.add_argument("--out", help="append one JSON line per run here")
    a = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    first, last = (int(x) for x in a.seeds.split("-"))
    values: dict[str, list[float]] = {}
    for seed in range(first, last + 1):
        t0 = time.time()
        p = subprocess.run(
            spec["command"] + ["--workload", a.workload, "--seed", str(seed),
                               "--seconds", str(spec["run_seconds"]),
                               "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True)
        wall = time.time() - t0
        if p.returncode != 0:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
            return 1
        res = json.loads(p.stdout.strip().splitlines()[-1])
        host = [json.loads(line[len(HOST_LINE):]) for line in
                p.stderr.splitlines() if line.startswith(HOST_LINE)]
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed}: {wall:.0f} s wall, correct={res['correct']} "
              f"failed={res['failed']}/{res['attempted']} host={host}",
              flush=True)
        if a.out:
            with open(a.out, "a") as f:
                f.write(json.dumps({"workload": a.workload, "seed": seed,
                                    "wall_s": wall, "host": host, **res})
                        + "\n")
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    for k, s in spreads(values).items():
        b = bounds.get(k)
        flag = "" if b is None else (
            "  ok" if s["iqr_share"] < b / 3 else "  WIDE")
        print(f"{k:28s} median {s['median']:12.4f}  spread "
              f"{s['iqr_share']:.4f}  bound {b}{flag}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
