"""Deterministic TPC-H-ish fixture generator for the benchmark.

Writes the ten tables `graft.core.Tables` loads (one parquet file each)
at a given scale factor, with the schemas `Tables.contract` pins and
value domains shaped like the repository's oracle fixtures: uniform
foreign keys, 1995-2001 order/ship dates, 30 days of 2024 events with
exponential values, bag-of-words documents with a few exact duplicates,
and unit-norm 64-d embeddings with ten labels.

The base tables take a fixed generator seed: they are the dataset the
benchmark runs on. Everything a run varies derives from the run's own
--seed: the day files with their late and re-delivered rows
(`day_files`, called by run.py), and in the JVM runner the query
order, the function frames and the 031 clock.

    python3 perfbench/gendata.py <out_dir> <sf>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "green"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "nut"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
WORDS = ("a agg batch big column customer data dup fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]


def _days(lo, hi, n, rng):
    """n uniform midnight timestamps in [lo, hi] as datetime64[us]."""
    lo, hi = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    d = rng.integers(0, (hi - lo).astype(int) + 1, n)
    return (lo + d).astype("datetime64[us]")


def _money(lo, hi, n, rng):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def generate(out, sf):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(BASE_SEED)
    n_cust, n_supp = int(150_000 * sf), max(int(10_000 * sf), 10)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc = max(int(50_000 * sf), 500)
    n_emb = min(max(int(20_000 * sf), 500), 2000)

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(-999.99, 9999.99, n_cust, rng),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(-999.99, 9999.99, n_supp, rng)})
    pk = np.arange(n_part, dtype=np.int64)
    _write(out, "part", {
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(rng.choice(PART_ADJ, n_part), " "),
                              rng.choice(PART_NOUN, n_part)),
        "p_brand": np.char.add("Brand#",
                               rng.integers(1, 26, n_part).astype(str)),
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)})
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
        "o_totalprice": _money(1000.0, 500000.0, n_ord, rng),
        "o_orderdate": _days("1995-01-01", "2001-08-01", n_ord, rng),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(900.0, 105000.0, n_line, rng),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["O", "F"], n_line),
        "l_shipdate": _days("1995-01-02", "2001-11-04", n_line, rng)})

    # events: ids follow event time, 30 days of January 2024
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n_ev))
    _write(out, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts,
                       pa.timestamp("us")),
        "user_id": rng.integers(0, max(n_cust // 10, 10), n_ev)
        .astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    lens = rng.integers(10, 101, n_doc)
    texts = [" ".join(rng.choice(WORDS, k)) for k in lens]
    for a, b in rng.integers(0, n_doc, (max(n_doc // 600, 1), 2)):
        texts[max(a, b)] = texts[min(a, b)]  # a few exact duplicates
    _write(out, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vec = centers[labels] * 0.3 + rng.normal(0.0, 1.0, (n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})


def day_files(events_path, out, seed, days=30):
    """Split the events table into one parquet file per delivery day,
    `out/delivered=<d>/part-0.parquet`, all drawn from `seed`: a share of
    each day's last-hour rows is delivered with the next day (inside the
    one-hour watermark), and a share of all rows is delivered twice.
    Rows carry `seq`, their position in delivery order, as the version.
    Returns the two shares."""
    rng = np.random.default_rng(seed)
    late_share = 0.3 + 0.4 * rng.random()
    again_share = 0.02 + 0.04 * rng.random()
    t = pq.read_table(events_path)
    n = t.num_rows
    ts = t["ts"].to_numpy()
    day = ((ts - np.datetime64("2024-01-01")) // np.timedelta64(1, "D")).astype(int)
    hour = (ts - ts.astype("datetime64[D]")) // np.timedelta64(1, "h")
    late = (hour == 23) & (day < days - 1) & (rng.random(n) < late_share)
    again = np.nonzero(rng.random(n) < again_share)[0]
    idx = np.concatenate([np.arange(n), again])
    copy = np.concatenate([np.zeros(n, int), np.ones(len(again), int)])
    delivered = (day + late)[idx]
    order = np.lexsort((t["event_id"].to_numpy()[idx], copy, delivered))
    idx, delivered = idx[order], delivered[order]
    rows = t.take(idx)
    rows = rows.set_column(rows.schema.get_field_index("ts"), "ts",
                           rows["ts"].cast(pa.timestamp("us", tz="UTC")))
    rows = rows.append_column("seq", pa.array(np.arange(1, len(idx) + 1)))
    for d in range(days):
        os.makedirs(os.path.join(out, f"delivered={d}"))
        pq.write_table(rows.filter(pa.array(delivered == d)),
                       os.path.join(out, f"delivered={d}", "part-0.parquet"))
    return late_share, again_share


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]))
