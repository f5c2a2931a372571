"""Seeded input generators for the benchmark.

Two families, both written as parquet before any timing starts:

- ``write_tables``: the ten-table star schema the query registry reads
  (TPC-H-shaped facts and dimensions plus ``events``, ``documents`` and
  ``embeddings``), with the column names and parquet types the engine
  expects. Row counts follow the scale factor; values follow the seed.
- ``write_taxi_months``: green/yellow-taxi-shaped month files for the
  ingest path, mixing ``lpep_*`` and ``tpep_*`` spellings, with a fixed
  share of malformed and null pickup timestamps. The expected count of
  rows that survive conform (non-null parsed pickup) is returned per file.

The same seed always produces byte-identical inputs.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
             "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.15, 0.40, 0.15, 0.15, 0.15]


def _write(out_dir: str, name: str, cols: dict, schema: list) -> int:
    table = pa.table(cols, schema=pa.schema(schema))
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return table.num_rows


def _days(rng, n, start: dt.date, end: dt.date) -> np.ndarray:
    """``n`` midnight timestamps uniform over [start, end], as micros."""
    span = (end - start).days
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span + 1, n) * np.timedelta64(1, "D")


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten query tables at scale ``sf``; returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    rows = {}

    rows["region"] = _write(out_dir, "region", {
        "r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS,
    }, [("r_regionkey", i32), ("r_name", s)])
    rows["nation"] = _write(out_dir, "nation", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": np.arange(25, dtype=np.int32) % 5,
    }, [("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)])

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    rows["customer"] = _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    }, [("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
        ("c_acctbal", f64), ("c_mktsegment", s)])
    rows["supplier"] = _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    }, [("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32),
        ("s_acctbal", f64)])
    pk = np.arange(n_part, dtype=np.int64)
    rows["part"] = _write(out_dir, "part", {
        "p_partkey": pk,
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(
            rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    }, [("p_partkey", i64), ("p_name", s), ("p_brand", s), ("p_type", s),
        ("p_size", i32), ("p_retailprice", f64)])
    rows["orders"] = _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": np.array(STATUSES)[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, n_ord, dt.date(1995, 1, 1),
                             dt.date(2001, 8, 1)),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    }, [("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s),
        ("o_totalprice", f64), ("o_orderdate", ts), ("o_orderpriority", s)])
    rows["lineitem"] = _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_line, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, n_line, dt.date(1995, 1, 2),
                            dt.date(2001, 11, 4)),
    }, [("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
        ("l_linenumber", i32), ("l_quantity", f64), ("l_extendedprice", f64),
        ("l_discount", f64), ("l_tax", f64), ("l_returnflag", s),
        ("l_linestatus", s), ("l_shipdate", ts)])

    # events: strictly increasing timestamps over 30 days, ids in ts order
    gaps = rng.exponential(1.0, n_ev)
    offs = np.cumsum(gaps) / gaps.sum() * (30 * 86400 - 60) * 1e6
    rows["events"] = _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01T00:00:00", "us")
        + offs.astype(np.int64).astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_ev, dtype=np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }, [("event_id", i64), ("ts", ts), ("user_id", i64),
        ("event_type", s), ("value", f64), ("props", s)])

    # documents: random word runs; ~5% are an earlier document + " dup"
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, 30, n)]))
    rows["documents"] = _write(out_dir, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }, [("doc_id", i64), ("text", s), ("lang", s), ("source", s),
        ("n_chars", i64)])

    vecs = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    rows["embeddings"] = _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb, dtype=np.int32),
    }, [("vec_id", i64), ("embedding", pa.list_(pa.float32())),
        ("label", i32)])
    return rows


MALFORMED_SHARE = 0.01
NULL_PICKUP_SHARE = 0.02


def write_taxi_months(out_dir: str, seed: int, months: list[str],
                      rows_per_month: int) -> dict[str, tuple[str, int]]:
    """One parquet file per ``YYYY-MM`` month, pickup timestamps as
    strings. Even-indexed months use the green (``lpep_*``, with
    ``trip_type``) spelling, odd-indexed the yellow (``tpep_*``, no
    ``trip_type``) one. A fixed share of pickups is malformed text and
    another share is null; both are dropped by conform.

    Returns month -> (path, expected rows after conform)."""
    os.makedirs(out_dir, exist_ok=True)
    out = {}
    n = rows_per_month
    for idx, month in enumerate(months):
        rng = np.random.default_rng([seed, idx])
        start = np.datetime64(f"{month}-01T00:00:00", "s")
        end = (start.astype("datetime64[M]") + 1).astype("datetime64[s]")
        span = int((end - start) / np.timedelta64(1, "s"))
        pickup = start + rng.integers(0, span, n).astype("timedelta64[s]")
        dropoff = pickup + rng.integers(60, 3 * 3600, n).astype(
            "timedelta64[s]")
        fate = rng.random(n)
        pick_txt = np.char.replace(np.datetime_as_string(pickup, unit="s"),
                                   "T", " ").astype(object)
        pick_txt[fate < MALFORMED_SHARE] = "not-a-timestamp"
        pick_txt[(fate >= MALFORMED_SHARE)
                 & (fate < MALFORMED_SHARE + NULL_PICKUP_SHARE)] = None
        expected = int(np.count_nonzero(
            fate >= MALFORMED_SHARE + NULL_PICKUP_SHARE))
        prefix = "lpep" if idx % 2 == 0 else "tpep"

        def money(lo, hi):
            return pa.array(np.round(rng.uniform(lo, hi, n), 2))

        cols = {
            "VendorID": pa.array(rng.integers(1, 3, n), pa.int64()),
            f"{prefix}_pickup_datetime": pa.array(pick_txt, pa.string()),
            f"{prefix}_dropoff_datetime": pa.array(
                np.char.replace(np.datetime_as_string(dropoff, unit="s"),
                                "T", " "), pa.string()),
            "store_and_fwd_flag": pa.array(
                np.array(["N", "Y"])[rng.integers(0, 2, n)]),
            "RatecodeID": pa.array(rng.integers(1, 7, n).astype(np.float64)),
            "PULocationID": pa.array(rng.zipf(1.6, n) % 265 + 1, pa.int64()),
            "DOLocationID": pa.array(rng.integers(1, 266, n), pa.int64()),
            "passenger_count": pa.array(
                rng.integers(0, 7, n).astype(np.float64)),
            "trip_distance": pa.array(
                np.round(rng.lognormal(0.8, 0.9, n), 2)),
            "fare_amount": money(-5.0, 80.0),
            "extra": money(0.0, 5.0),
            "mta_tax": pa.array(np.full(n, 0.5)),
            "tip_amount": money(0.0, 20.0),
            "tolls_amount": money(0.0, 10.0),
            "improvement_surcharge": pa.array(np.full(n, 0.3)),
            "total_amount": money(3.0, 120.0),
            "payment_type": pa.array(rng.integers(1, 6, n), pa.int64()),
            "congestion_surcharge": money(0.0, 2.75),
        }
        if prefix == "lpep":
            cols["trip_type"] = pa.array(rng.integers(1, 3, n), pa.int64())
        path = os.path.join(out_dir, f"{prefix}_tripdata_{month}.parquet")
        pq.write_table(pa.table(cols), path)
        out[month] = (path, expected)
    return out
