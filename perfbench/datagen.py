"""Deterministic input tables for the benchmark.

Two data sets are written, both from a fixed generator seed so that every
run of one checkout reads the same bytes (the run's `--seed` only permutes
batch order, query order and key offsets on top of them):

- `mix/`: the ten query tables (`region` ... `embeddings`) at the small
  scale the `query_mix` workload runs at, with the column names and Arrow
  types of the project's query fixtures (FIXTURES.md);
- `sink/lineitem-N.parquet`: eight copies of one 600 k-row `lineitem`
  table, copy N with `(N + 1) * 10^9` added to `l_orderkey`: the parity
  sink's input.

Usage: python3 datagen.py <out_dir>
"""
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute  # noqa: F401 - registers pa.compute
import pyarrow.parquet as pq

GEN_SEED = 20240601
MIX_SF = 0.01
SINK_SF = 0.1
SINK_COPIES = 8

WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
DAY_US = 86_400 * 1_000_000
EPOCH_1992_US = 694_224_000 * 1_000_000  # 1992-01-01T00:00:00
EPOCH_2024_US = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, n, span_days):
    return EPOCH_1992_US + rng.integers(0, span_days, n) * DAY_US


def _ts(values):
    return pa.array(values, pa.timestamp("us"))


def tpch(rng, sf):
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    nations = ["ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA",
               "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN",
               "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA",
               "ROMANIA", "SAUDI ARABIA", "VIETNAM", "RUSSIA", "UNITED KINGDOM",
               "UNITED STATES"]
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": nations,
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    colors = ["red", "blue", "green", "small", "large", "steel", "brass"]
    nouns = ["widget", "bolt", "ring", "gear", "panel", "valve"]
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{colors[a]} {nouns[b]}" for a, b in
                   zip(rng.integers(0, len(colors), n_part),
                       rng.integers(0, len(nouns), n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "STANDARD", "SMALL", "MEDIUM",
                              "LARGE", "PROMO"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(_days(rng, n_ord, 2555)),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    t["lineitem"] = lineitem(rng, n_ord, n_part, n_supp)
    return t


def lineitem(rng, n_ord, n_part, n_supp):
    lines = rng.integers(1, 8, n_ord)
    n = int(lines.sum())
    orderkey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pa.table({
        "l_orderkey": orderkey,
        "l_partkey": rng.integers(0, n_part, n),
        "l_suppkey": rng.integers(0, n_supp, n),
        "l_linenumber": pa.array(np.arange(n) - starts + 1, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2000.0, n), 2),
        "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["O", "F"], n),
        "l_shipdate": _ts(_days(rng, n, 3650))})


def events(rng, n):
    gaps = rng.integers(1, 2 * (30 * DAY_US // n), n)
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": _ts(EPOCH_2024_US + np.cumsum(gaps)),
        "user_id": rng.integers(0, max(n // 100, 10), n),
        "event_type": rng.choice(["view", "click", "purchase", "signup", "error"], n),
        "value": _money(rng, 0.0, 560.0, n),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


def documents(rng, n):
    """Bag-of-words texts with planted near-duplicates (a few words edited)
    and exact duplicates, so the dedup and clustering queries find work."""
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.04:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(words))
        elif i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(20, 80)))))
    langs = rng.choice(["en", "zh", "es", "fr", "de"], n, p=[0.4, 0.15, 0.15, 0.15, 0.15])
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64)})


def embeddings(rng, n, dim=64, labels=10):
    label = rng.integers(0, labels, n)
    vecs = rng.normal(0.0, 0.1, (n, dim))
    for i in range(10, n, 25):  # planted near-identical vectors
        vecs[i] = vecs[i - 7] + rng.normal(0.0, 0.001, dim)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, (n + 1) * dim, dim, dtype=np.int32))
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(label, pa.int32())})


def with_offset(table, offset):
    i = table.column_names.index("l_orderkey")
    return table.set_column(i, "l_orderkey", pa.compute.add(table.column(i), offset))


def write(table, path):
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, path, row_group_size=1 << 30)


def main(out):
    out = Path(out)
    rng = np.random.default_rng(GEN_SEED)
    mix = tpch(rng, MIX_SF)
    mix["events"] = events(rng, int(1_000_000 * MIX_SF))
    mix["documents"] = documents(rng, 500)
    mix["embeddings"] = embeddings(rng, 500)
    for name, table in mix.items():
        write(table, out / "mix" / f"{name}.parquet")

    n_ord = int(1_500_000 * SINK_SF)
    sink = lineitem(rng, n_ord, int(200_000 * SINK_SF), int(10_000 * SINK_SF))
    # one file per copy, each with its own key offset baked in: the sink
    # reads them as they are, so no copy needs a per-copy plan of its own
    for i in range(SINK_COPIES):
        write(with_offset(sink, (i + 1) * 10**9), out / "sink" / f"lineitem-{i}.parquet")


if __name__ == "__main__":
    main(sys.argv[1])
