"""Deterministic generator for the benchmark's input tables.

Writes the ten engine tables (``lingo_db_spark.catalog.TABLE_SCHEMAS``) as
one snappy parquet file each, at a TPC-H-style scale factor: 150k orders,
600k lineitems, 15k customers, 20k parts and 1k suppliers per sf=0.1.
Columns are independent uniform draws over the value domains the
registered queries filter on (``NATION_<k>``, ``Brand#<n>``, six part
types, dates 1995-2001), the corpus is 5k documents over a 30-word
vocabulary with 250 near-duplicate and 8 exact-duplicate pairs, and the
vector table holds 2k random unit vectors of dimension 64.

The same (sf, seed) always yields byte-identical files, so result digests
can be committed next to the benchmark.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "old", "large", "hot", "cold", "small", "new", "red"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.1475, 0.41, 0.1475, 0.1475, 0.1475]
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()

ORDER_DAY0 = np.datetime64("1995-01-01")
ORDER_DAYS = 2405          # 1995-01-01 .. 2001-08-01
SHIP_DAY0 = np.datetime64("1995-01-02")
SHIP_DAYS = 2499           # 1995-01-02 .. 2001-11-04
EVENT_T0 = np.datetime64("2024-01-01T00:00:00", "us")
EVENT_SPAN_US = 30 * 86400 * 10**6


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _pick(rng: np.random.Generator, values: list[str], n: int,
          p: list[float] | None = None) -> np.ndarray:
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def _days(day0: np.datetime64, offsets: np.ndarray) -> np.ndarray:
    return (day0 + offsets.astype("timedelta64[D]")).astype("datetime64[us]")


def make_tables(sf: float = 0.1, seed: int = 42) -> dict[str, pd.DataFrame]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li = 4 * n_ord
    i32 = np.int32
    t: dict[str, pd.DataFrame] = {}
    t["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=i32), "r_name": REGIONS})
    t["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=i32),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(i32)})
    t["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    t["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pd.DataFrame({
        "p_partkey": pk,
        "p_name": _pick(rng, PART_ADJ, n_part) + " " + _pick(rng, PART_NOUN, n_part),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(i32),
        "p_retailprice": (9000 + pk % 1000) / 10.0})
    t["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(ORDER_DAY0, rng.integers(0, ORDER_DAYS + 1, n_ord)),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})
    t["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _days(SHIP_DAY0, rng.integers(0, SHIP_DAYS + 1, n_li))})
    n_ev = int(1_000_000 * sf)
    t["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": EVENT_T0 + np.sort(rng.integers(0, EVENT_SPAN_US, n_ev)
                                 ).astype("timedelta64[us]"),
        "user_id": rng.integers(0, int(15_000 * sf), n_ev),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    t["documents"] = _documents(rng, int(50_000 * sf))
    n_vec = int(20_000 * sf)
    vecs = rng.standard_normal((n_vec, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": list(vecs),
        "label": rng.integers(0, 10, n_vec).astype(i32)})
    return t


def _documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """Random word sequences; 250 near-duplicates (a later document plus
    the token ``dup``) and 8 exact duplicates, per 5k documents."""
    lengths = rng.integers(10, 101, n)
    words = np.asarray(VOCAB, dtype=object)
    text = [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in lengths]
    n_near, n_exact = n * 250 // 5000, n * 8 // 5000
    pairs = rng.permutation(n)[: 2 * (n_near + n_exact)].reshape(-1, 2)
    for k, (a, b) in enumerate(pairs):
        text[a] = text[b] + (" dup" if k < n_near else "")
    ids = np.arange(n, dtype=np.int64)
    return pd.DataFrame({
        "doc_id": ids,
        "text": text,
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": [f"src{k % 20}" for k in ids],
        "n_chars": np.fromiter((len(s) for s in text), np.int64, n)})


def write_tables(out_dir: str, sf: float = 0.1, seed: int = 42) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, df in make_tables(sf, seed).items():
        tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
        df.to_parquet(tmp, index=False, compression="snappy")
        os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))
