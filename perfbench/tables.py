"""Seeded relational tables for the query mix, at the 0.1 scale factor.

The registered queries read ``<dir>/<table>.parquet`` for the ten tables
of ``tools.check_oracle.TABLES`` (TPC-H-like star schema, an ``events``
stream, ``documents`` and ``embeddings``). This module writes them from a
seed with numpy and pyarrow, with the schemas, sizes and value
distributions of the 0.1-scale tables the queries are tested on: pure
ASCII text, keys that join, timestamps without a time zone (read by Spark
as TIMESTAMP_NTZ), prices and event values with two decimals.

``properties`` measures the figures the queries' cost depends on (row
counts, words per document, vocabulary, near-duplicates, events per user,
gaps between a user's events, event values). To compare the generated
tables with a directory of reference tables:

    python3 perfbench/tables.py --compare <dir with the ten parquet files>
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.check_oracle import TABLES  # noqa: E402

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "red", "hot", "old", "large", "blue", "cold", "new"]
PART_NOUN = ["ring", "widget", "bolt", "plate", "rod", "gear", "gizmo", "anvil"]
PART_TYPES = ["SMALL", "MEDIUM", "PROMO", "ECONOMY", "STANDARD", "LARGE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = (
    "a the data spark join hash row batch scan column customer filter small "
    "slow merge order vector line table agg value key stream window part "
    "group big sort query fast"
).split()
# rows at the 0.1 scale factor
SIZES = {
    "customer": 15_000, "supplier": 1_000, "part": 20_000, "orders": 150_000,
    "lineitem": 600_000, "events": 100_000, "users": 1_500, "documents": 5_000,
    "embeddings": 2_000,
}


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> np.ndarray:
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    span = int((hi - lo).astype(np.int64))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def make_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 7])
    n = SIZES
    n_cust, n_supp, n_part, n_ord, n_li = n["customer"], n["supplier"], n["part"], n["orders"], n["lineitem"]
    n_ev, n_doc, n_emb, n_users = n["events"], n["documents"], n["embeddings"], n["users"]

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li),
    })
    month_us = 30 * 86400 * 1_000_000
    ts = np.datetime64("2024-01-01", "us") + np.sort(rng.integers(0, month_us, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })
    emb = rng.normal(size=(n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    })
    assert sorted(t) == sorted(TABLES)
    return t


def write_tables(out_dir: str, seed: int) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, tbl in make_tables(seed).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = tbl.num_rows
    return rows


PROPERTIES = {
    **{f"rows.{t}": f"SELECT count(*) FROM {t}" for t in TABLES},
    "documents.words_p10_p50_p90": "SELECT quantile_disc(len(string_split(text, ' ')), [0.1, 0.5, 0.9]) FROM documents",
    "documents.words_min_max": "SELECT [min(len(string_split(text, ' '))), max(len(string_split(text, ' ')))] FROM documents",
    "documents.vocabulary": "SELECT count(DISTINCT w) FROM (SELECT unnest(string_split(text, ' ')) w FROM documents)",
    "documents.near_dup_share": "SELECT round(avg((text LIKE '% dup')::int), 3) FROM documents",
    "documents.lang_en_share": "SELECT round(avg((lang = 'en')::int), 3) FROM documents",
    "events.users": "SELECT count(DISTINCT user_id) FROM events",
    "events.per_user_p10_p50_p90": "SELECT quantile_disc(n, [0.1, 0.5, 0.9]) FROM (SELECT count(*) n FROM events GROUP BY user_id)",
    "events.gap_h_p10_p50_p90": (
        "SELECT list_transform(quantile_cont(g, [0.1, 0.5, 0.9]), x -> round(x / 3600, 1)) FROM ("
        "SELECT epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) g FROM events) WHERE g IS NOT NULL"),
    "events.gap_le_30min_share": (
        "SELECT round(avg((g <= 1800)::int), 3) FROM ("
        "SELECT epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) g FROM events) WHERE g IS NOT NULL"),
    "events.value_p10_p50_p90": "SELECT list_transform(quantile_cont(value, [0.1, 0.5, 0.9]), x -> round(x, 1)) FROM events",
    "lineitem.distinct_orders_share": "SELECT round(count(DISTINCT l_orderkey) / (SELECT count(*) FROM orders), 3) FROM lineitem",
}


def properties(table_dir: str) -> dict[str, object]:
    """The figures in ``PROPERTIES``, measured with DuckDB on a table directory."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{table_dir}/{t}.parquet'")
        return {k: con.execute(q).fetchone()[0] for k, q in PROPERTIES.items()}
    finally:
        con.close()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="Compare generated query tables with reference tables.")
    ap.add_argument("--compare", required=True, help="directory holding the reference <table>.parquet files")
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args(argv)
    with tempfile.TemporaryDirectory(dir=os.getcwd()) as tmp:
        write_tables(tmp, args.seed)
        gen = properties(tmp)
    ref = properties(args.compare)
    print(f"| property | reference | generated (seed {args.seed}) |\n|---|---|---|")
    for k in PROPERTIES:
        print(f"| {k} | {ref[k]} | {gen[k]} |")
    return 0


if __name__ == "__main__":
    sys.exit(main())
