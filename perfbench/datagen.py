"""Deterministic synthetic tables for the benchmark.

Writes the star schema (region nation customer supplier part orders
lineitem), the `events` stream table, `documents` (text with 5% " dup"
copies) and `embeddings` (unit 64-d vectors), one single-row-group
parquet file per table, in the layout graft's query registry reads
(`<dir>/<table>.parquet`). Row counts scale with `sf` like the TPC-H
tables; column distributions are uniform unless noted. The same `sf`
and generator seed always give byte-identical values, so query outputs
can be checked against recorded digests.

    python3 perfbench/datagen.py <out_dir> <sf>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_SEED = 42
DAY_US = 86_400_000_000
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
VOCAB = ("a the data spark table column row value key part line order customer "
         "join group agg sort filter scan merge hash window stream batch query "
         "vector fast slow big small").split()


def _rng(table):
    return np.random.default_rng([GEN_SEED, sum(map(ord, table))])


def _days(base, offsets):
    return (np.datetime64(base, "us") + offsets.astype("timedelta64[D]")).astype("datetime64[us]")


def _pick(rng, values, n):
    return pa.array(np.array(values, dtype=object)[rng.integers(0, len(values), n)], pa.string())


def _acctbal(rng, n):
    return np.round(rng.uniform(-999.99, 9999.99, n), 2)


def tables(sf):
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), max(500, int(20_000 * sf))
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    r = _rng("customer")
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _acctbal(r, n_cust),
        "c_mktsegment": _pick(r, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust)})
    r = _rng("supplier")
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _acctbal(r, n_supp)})
    r = _rng("part")
    keys = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": keys,
        "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in r.integers(0, 8, (n_part, 2))], pa.string()),
        "p_brand": _pick(r, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(r, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": r.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (keys % 1000) / 10.0, 1)})
    r = _rng("orders")
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(r, ["F", "O", "P"], n_ord),
        "o_totalprice": np.round(r.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": _days("1995-01-01", r.integers(0, 2405, n_ord)),
        "o_orderpriority": _pick(r, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    r = _rng("lineitem")
    out["lineitem"] = pa.table({
        "l_orderkey": r.integers(0, n_ord, n_line),
        "l_partkey": r.integers(0, n_part, n_line),
        "l_suppkey": r.integers(0, n_supp, n_line),
        "l_linenumber": r.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(r.uniform(900, 105_000, n_line), 2),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(r, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(r, ["F", "O"], n_line),
        "l_shipdate": _days("1995-01-01", r.integers(1, 2500, n_line))})
    r = _rng("events")
    offs = np.sort(r.integers(0, 30 * DAY_US, n_ev))
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + offs.astype("timedelta64[us]"),
        "user_id": r.integers(0, int(15_000 * sf), n_ev),
        "event_type": _pick(r, ["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.maximum(0.01, np.round(r.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)], pa.string())})
    r = _rng("documents")
    base = [" ".join(VOCAB[w] for w in r.integers(0, len(VOCAB), r.integers(10, 101)))
            for _ in range(n_doc)]
    dup = r.random(n_doc) < 0.05
    src = r.integers(0, n_doc, n_doc)
    text = [base[s] + " dup" if d and s != i else base[i]
            for i, (d, s) in enumerate(zip(dup, src))]
    lang = np.array(["en", "de", "es", "fr", "zh"], dtype=object)[
        r.choice(5, n_doc, p=[0.41, 0.1475, 0.1475, 0.1475, 0.1475])]
    out["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(lang, pa.string()),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64)})
    r = _rng("embeddings")
    v = r.standard_normal((n_emb, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": r.integers(0, 10, n_emb).astype(np.int32)})
    return out


def generate(out_dir, sf):
    """Writes every table under `out_dir`, via a temporary sibling that
    is renamed into place, so a half-written directory is never read."""
    tmp = out_dir + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    for name, t in tables(sf).items():
        pq.write_table(t, os.path.join(tmp, f"{name}.parquet"), row_group_size=1 << 24)
    os.replace(tmp, out_dir)


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]))
