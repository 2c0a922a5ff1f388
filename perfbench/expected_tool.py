"""Maintains ``expected.json``, the result digests every run is checked
against, and its one-off cross-check against the DuckDB oracle.

    # digests from full-record runs (run.py --record PATH), one per
    # workload; every record must agree on every digest it has
    python3 perfbench/expected_tool.py record REC.json [REC.json ...]

    # run each query's registered DuckDB oracle SQL on the generated
    # tables and compare digests; writes oracle_check.json
    python3 perfbench/expected_tool.py oracle [--limit-s 120]

Approximate ANN queries return the registry's invariant rows (k rows,
recall bound met, exact re-scoring), so their digests are exact too.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
EXPECTED = HERE / "expected.json"
ORACLE_CHECK = HERE / "oracle_check.json"


def record(paths: list[str]) -> int:
    digests: dict[str, dict] = {}
    for p in paths:
        for r in json.loads(Path(p).read_text())["records"]:
            if r.get("result") is None:
                print(f"{p}: {r['query']} has no result ({r['status']})")
                return 1
            seen = digests.setdefault(r["query"], r["result"])
            if seen != r["result"]:
                print(f"{r['query']}: digests differ between runs: "
                      f"{seen} vs {r['result']}")
                return 1
    EXPECTED.write_text(json.dumps(dict(sorted(digests.items())), indent=1)
                        + "\n")
    print(f"wrote {len(digests)} digests to {EXPECTED}")
    return 0


def oracle(limit_s: float) -> int:
    os.environ["TZ"] = "UTC"
    time.tzset()
    sys.path.insert(0, str(ROOT))
    import duckdb

    from lingo_db_spark.catalog import TABLE_NAMES
    from lingo_db_spark.queries import load_all
    from perfbench.digest import digest
    from perfbench.run import DATA_SEED, SF, ensure_data
    from perfbench.workloads import WORKLOADS

    data = ensure_data(ROOT / ".perfbench")
    expected = json.loads(EXPECTED.read_text())
    registry = load_all()
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data}/{t}.parquet')")
    report: dict = {"sf": SF, "data_seed": DATA_SEED, "limit_s": limit_s,
                    "queries": {}}
    for wl in WORKLOADS.values():
        for name in wl.queries:
            sql = registry[name].oracle
            if sql is None:
                status = {"status": "no_oracle"}
            else:
                status = _run_oracle(con, sql, limit_s, expected.get(name),
                                     digest)
            report["queries"][name] = {"workload": wl.name, **status}
            print(f"{name}: {status}", flush=True)
    ORACLE_CHECK.write_text(json.dumps(report, indent=1) + "\n")
    bad = [n for n, s in report["queries"].items()
           if s["status"] == "mismatch"]
    print(f"{len(bad)} mismatches" + (f": {bad}" if bad else ""))
    return 1 if bad else 0


def _run_oracle(con, sql: str, limit_s: float, want, digest) -> dict:
    timer = threading.Timer(limit_s, con.interrupt)
    timer.start()
    t0 = time.perf_counter()
    try:
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        got = digest(cols, cur.fetchall())
    except Exception as e:  # noqa: BLE001 - reported per query
        return {"status": "oracle_unfinished" if time.perf_counter() - t0
                >= limit_s else "oracle_error",
                "error": f"{type(e).__name__}: {str(e)[:200]}"}
    finally:
        timer.cancel()
    secs = round(time.perf_counter() - t0, 2)
    return {"status": "match" if got == want else "mismatch",
            "oracle_s": secs, **({} if got == want else
                                 {"oracle": got, "expected": want})}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("record")
    r.add_argument("records", nargs="+")
    o = sub.add_parser("oracle")
    o.add_argument("--limit-s", type=float, default=120.0)
    a = ap.parse_args()
    return record(a.records) if a.cmd == "record" else oracle(a.limit_s)


if __name__ == "__main__":
    raise SystemExit(main())
