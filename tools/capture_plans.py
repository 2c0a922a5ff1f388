"""Run registered queries and capture their executed plans — an
optimization round's plan evidence.  Each query is collected once, then
<out>/<query>_<tag>.txt gets AQE's final plan (.explain("formatted")) and
<out>/<query>_<tag>.nodes.json the wall ms of that run and the plan's
node-class counts, looking through AQE and query-stage wrappers and into
the plans of cached relations.

Usage: python tools/capture_plans.py <tag> [query ...] [--out DIR]
       (default queries: the bench headline set; default DIR: plans/r16)
Env:   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import sys
import time
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from lingo_db_spark.queries import load_all
from lingo_db_spark.session import build_session


def node_counts(df) -> dict[str, int]:
    seen: Counter = Counter()

    def walk(node):
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            return walk(node.executedPlan())
        if cls.endswith("QueryStageExec"):
            return walk(node.plan())
        seen[cls] += 1
        if cls == "InMemoryTableScanExec":
            walk(node.relation().cachedPlan())
        children = node.children()
        for i in range(children.size()):
            walk(children.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return dict(sorted(seen.items()))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("tag", nargs="?", default="before")
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--out", default=str(ROOT / "plans" / "r16"))
    args = ap.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = Path(args.out)
    out_dir.mkdir(parents=True, exist_ok=True)

    registry = load_all()
    if args.queries:
        names = args.queries
    else:
        import bench
        names = ([n for n in sorted(registry) if n.startswith("tpch_")]
                 + bench.HEADLINE_EXTRA)
    spark = build_session("capture_plans")
    for name in names:
        spec = registry.get(name)
        if spec is None:
            print(f"skip unregistered {name}", file=sys.stderr)
            continue
        try:
            t0 = time.perf_counter()
            df = spec.spark_fn(spark, sf_dir)
            rows = len(df.collect())
            ms = (time.perf_counter() - t0) * 1e3
            (out_dir / f"{name}_{args.tag}.nodes.json").write_text(
                json.dumps({"sf_dir": sf_dir, "rows": rows,
                            "wall_ms": round(ms, 1),
                            "nodes": node_counts(df)}, indent=1) + "\n")
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            plan = buf.getvalue()
        except Exception as e:  # noqa: BLE001
            plan = f"PLAN CAPTURE FAILED: {type(e).__name__}: {e}\n"
        (out_dir / f"{name}_{args.tag}.txt").write_text(plan)
        print(f"captured {name} ({len(plan)} chars)", file=sys.stderr)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
