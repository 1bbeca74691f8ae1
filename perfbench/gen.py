#!/usr/bin/env python3
"""Seeded input generation for the perfbench workloads.

    python3 perfbench/gen.py <bars|lake|catalog> --seed <n> --out <dir>

The same seed writes the same files. Every table is plain parquet:
  bars     one bar table (date + volume + 58 indicator doubles), 4 files
  lake     a lineitem-shaped base table (8 files, contiguous key ranges),
           the op plan (plan.tsv) and every op's source rows
           (inputs/op=<j>/part-0.parquet)
  catalog  the star schema the catalog queries read, one file per table,
           with the value domains their DuckDB twins assume (two-decimal
           doubles, microsecond timestamps without zone)
"""
import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# bars: 10,000 minute bars; each op fits the forest on them
BAR_ROWS = 10000
BAR_INDICATORS = [
    "close", "high", "low", "open",
    "sma5", "sma10", "sma15", "sma20", "ema5", "ema10", "ema15", "ema20",
    "upperband", "middleband", "lowerband",
    "HT_TRENDLINE", "KAMA10", "KAMA20", "KAMA30", "SAR",
    "TRIMA5", "TRIMA10", "TRIMA20", "ADX5", "ADX10", "ADX20", "APO",
    "CCI5", "CCI10", "CCI15",
    "macd510", "macd520", "macd1020", "macd1520", "macd1226",
    "MFI", "MOM10", "MOM15", "MOM20", "ROC5", "ROC10", "ROC20", "PPO",
    "RSI14", "RSI8", "slowk", "slowd", "fastk", "fastd", "fastksr",
    "fastdsr", "ULTOSC", "WILLR", "ATR", "Trange", "TYPPRICE",
    "HT_DCPERIOD", "BETA"]

# lake: 100,000 base rows; each verb touches 1% of them
LAKE_ROWS = 100000
LAKE_FILES = 8
LAKE_WIDTH = 1000
LAKE_CYCLES = 4
MOR_VERBS = ["append", "merge_mor", "delete_mor", "update_mor", "upsert_batch"]
CYCLE_TAIL = ["compact", "merge_clauses"]
FLAGS = np.array(["A", "N", "R"])

# catalog: scale 1.0 is 60,000 lineitem rows
CATALOG_SCALE = 0.1


def write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def bars(rng, out):
    n = BAR_ROWS
    i = np.arange(n, dtype=np.int64)
    day, minute = i // 391, i % 391
    secs = 1420070400 + day * 86400 + (570 + minute) * 60
    date = pa.array(secs * 1_000_000, type=pa.timestamp("us", tz="UTC"))
    close = np.round(100 + 5 * np.sin(i / 97) + rng.uniform(-1, 1, n), 4)
    cols = {"close": close,
            "high": np.round(close + np.abs(rng.uniform(-.5, .5, n)), 4),
            "low": np.round(close - np.abs(rng.uniform(-.5, .5, n)), 4),
            "open": np.round(close + rng.uniform(-.1, .1, n), 4)}
    for k, c in enumerate(BAR_INDICATORS[4:]):
        cols[c] = np.round(close * (1 + k % 7) + rng.uniform(-.5, .5, n) * (k + 1), 4)
    volume = (1000 + rng.integers(0, 500, n)).astype(np.int32)
    t = pa.table({"date": date, "volume": volume,
                  **{c: cols[c] for c in BAR_INDICATORS}})
    for f in range(4):
        write(t.slice(f * n // 4, n // 4), f"{out}/bars/part-{f:05d}.parquet")


def lake_rows(rng, keys):
    n = len(keys)
    base = np.datetime64("1995-01-01")
    return pa.table({
        "l_key": keys.astype(np.int64),
        "l_orderkey": (keys // 4).astype(np.int64),
        "l_linenumber": (keys % 4 + 1).astype(np.int32),
        "l_partkey": rng.integers(0, 20000, n, dtype=np.int64),
        "l_quantity": rng.integers(1, 51, n, dtype=np.int64),
        "l_price_cents": rng.integers(90000, 10090000, n, dtype=np.int64),
        "l_returnflag": FLAGS[rng.integers(0, 3, n)],
        "l_shipdate": pa.array(base + rng.integers(0, 2500, n).astype("timedelta64[D]"),
                               type=pa.date32()),
    })


def lake(rng, out, n=LAKE_ROWS, w=LAKE_WIDTH, cycles=LAKE_CYCLES):
    per = n // LAKE_FILES
    for f in range(LAKE_FILES):
        keys = np.arange(f * per, (f + 1) * per)
        write(lake_rows(rng, keys), f"{out}/lake/part-{f:05d}.parquet")
    existing = w * 2 // 3
    stride = n // existing
    ops = []
    for _ in range(cycles):
        for kind in list(rng.permutation(MOR_VERBS)) + CYCLE_TAIL:
            j = len(ops)
            start = int(rng.integers(0, n - w))
            fresh = np.arange(n + j * w, n + j * w + w - existing)
            op = (str(kind), start, start + w)
            if kind == "append":
                keys = np.arange(n + j * w, n + (j + 1) * w)
            elif kind in ("merge_mor", "merge_clauses"):
                keys = np.concatenate([np.arange(start, start + existing), fresh])
            elif kind == "upsert_batch":
                spread = (start + np.arange(existing) * stride) % n
                keys = np.concatenate([spread, fresh])
            else:
                keys = None
            if keys is not None:
                write(lake_rows(rng, keys), f"{out}/inputs/op={j}/part-0.parquet")
            ops.append(op)
    # line 1: base rows and width; then per op: verb, and the key range
    # [lo, hi) the predicate verbs use
    with open(f"{out}/plan.tsv", "w") as f:
        f.write(f"{n}\t{w}\n")
        f.writelines(f"{k}\t{lo}\t{hi}\n" for k, lo, hi in ops)


def catalog(rng, out, scale=CATALOG_SCALE):
    def n(base):
        return max(1, int(base * scale))

    n_cust, n_supp, n_part = n(1500), n(100), n(2000)
    n_ord, n_line, n_ev, n_doc, n_emb = n(15000), n(60000), n(10000), n(500), n(500)

    def pick(xs, k):
        return np.array(xs)[rng.integers(0, len(xs), k)]

    def money(k, lo, hi):
        return np.round(rng.uniform(lo, hi, k), 2)

    def days(k, span):
        d = np.datetime64("1995-01-01") + rng.integers(0, span, k).astype("timedelta64[D]")
        return pa.array(d.astype("datetime64[us]"), type=pa.timestamp("us"))

    def save(name, cols):
        write(pa.table(cols), f"{out}/{name}.parquet/part-0.parquet")

    save("region", {"r_regionkey": np.arange(5, dtype=np.int32),
                    "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    save("nation", {"n_nationkey": np.arange(25, dtype=np.int32),
                    "n_name": [f"NATION_{k}" for k in range(25)],
                    "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    save("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(n_cust, -999.99, 9999.99),
        "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE",
                              "HOUSEHOLD", "MACHINERY"], n_cust)})
    save("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(n_supp, -999.99, 9999.99)})
    save("part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(pick(["red", "blue", "green", "small",
                                                "large", "steel"], n_part), " "),
                              pick(["ring", "widget", "bolt", "gear", "pipe"], n_part)),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": pick(["ECONOMY", "SMALL", "STANDARD", "LARGE", "MEDIUM",
                        "PROMO"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)})
    save("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": pick(["F", "O", "P"], n_ord),
        "o_totalprice": money(n_ord, 1000, 500000),
        "o_orderdate": days(n_ord, 2404),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                 "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    save("lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(n_line, 900, 105000),
        "l_discount": rng.integers(0, 11, n_line) / 100,
        "l_tax": rng.integers(0, 9, n_line) / 100,
        "l_returnflag": pick(["A", "N", "R"], n_line),
        "l_linestatus": pick(["F", "O"], n_line),
        "l_shipdate": days(n_line, 2499)})
    ev = np.arange(n_ev, dtype=np.int64)
    ts = 1704067200_000000 + ev * 259_200_000 + rng.integers(0, 200_000_000, n_ev)
    save("events", {
        "event_id": ev,
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": rng.integers(0, 150, n_ev, dtype=np.int64),
        "event_type": pick(["click", "view", "purchase", "signup", "error"], n_ev),
        "value": np.round(0.01 + rng.uniform(0, 1, n_ev) ** 4 * 490, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    words = ["a", "the", "data", "table", "row", "column", "scan", "join",
             "agg", "group", "sort", "window", "key", "value", "part", "line",
             "order", "customer", "query", "spark", "stream", "batch",
             "merge", "hash", "filter", "fast", "slow", "big", "small", "vector"]
    text = [" ".join(pick(words, int(rng.integers(20, 80)))) for _ in range(n_doc)]
    save("documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": text,
        "lang": pick(["en", "en", "en", "de", "fr", "es", "zh"], n_doc),
        "source": np.char.add("src", rng.integers(0, 20, n_doc).astype(str)),
        "n_chars": np.array([len(t) for t in text], dtype=np.int64)})
    emb = rng.normal(0, 1, (n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    save("embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32)})


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("what", choices=["bars", "lake", "catalog"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--small", action="store_true",
                    help="lake: one cycle of ops on a 20,000-row lake (warm-up)")
    a = ap.parse_args()
    rng = np.random.default_rng(a.seed)
    if a.what == "lake" and a.small:
        lake(rng, a.out, n=20000, w=200, cycles=1)
    else:
        {"bars": bars, "lake": lake, "catalog": catalog}[a.what](rng, a.out)


if __name__ == "__main__":
    main()
