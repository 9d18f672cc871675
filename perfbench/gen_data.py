"""Synthetic tables for the benchmark, with the schema and value domains of
the engine's test tables (TPC-H-like star schema plus `events`,
`documents` and `embeddings`).

The data is a pure function of the scale: numpy draws from one generator
seeded with DATA_SEED, written with pyarrow in bounded row groups so scans
split across cores.
"""

from __future__ import annotations

import datetime
import os

DATA_SEED = 42
ROW_GROUP = 131072
DOC_ROW_GROUP = 65536

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
WORDS = ("a the data query table row column key value join group order sort "
         "filter scan hash merge batch stream window spark agg part line "
         "customer fast slow big small vector").split()
EMB_DIM = 64
EMB_LABELS = 10

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def row_counts(sf: float) -> dict[str, int]:
    """Rows per table at scale `sf` (sf 1 ~ 6 M lineitem rows)."""
    n = {
        "region": len(REGIONS), "nation": 25,
        "customer": round(150_000 * sf), "supplier": round(10_000 * sf),
        "part": round(200_000 * sf), "orders": round(1_500_000 * sf),
        "lineitem": round(6_000_000 * sf), "events": round(1_000_000 * sf),
        "documents": max(200, round(50_000 * sf)),
        "embeddings": max(200, round(20_000 * sf)),
    }
    return n


def _days(start: datetime.date, rng, size: int, span: int):
    import numpy as np

    base = np.datetime64(start.isoformat(), "D")
    return (base + rng.integers(0, span, size)).astype("datetime64[us]")


def generate(out: str, sf: float) -> None:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(DATA_SEED)
    n = row_counts(sf)
    os.makedirs(out, exist_ok=True)

    def write(name: str, cols: dict, row_group: int = ROW_GROUP) -> None:
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                       row_group_size=row_group)

    def pick(values: list[str], size: int):
        return np.asarray(values, dtype=object)[
            rng.integers(0, len(values), size)]

    def money(lo: float, hi: float, size: int):
        return np.round(rng.uniform(lo, hi, size), 2)

    write("region", {"r_regionkey": pa.array(range(len(REGIONS)), pa.int32()),
                     "r_name": REGIONS})
    write("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % len(REGIONS) for i in range(25)],
                                pa.int32())})

    nc = n["customer"]
    write("customer", {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, nc),
        "c_mktsegment": pick(SEGMENTS, nc)})

    ns = n["supplier"]
    write("supplier", {
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": money(-999.99, 9999.99, ns)})

    npart = n["part"]
    keys = np.arange(npart, dtype=np.int64)
    write("part", {
        "p_partkey": keys,
        "p_name": pick(PART_ADJ, npart) + " " + pick(PART_NOUN, npart),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, npart)
                               .astype(str)).astype(object),
        "p_type": pick(PART_TYPES, npart),
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 2)})

    no = n["orders"]
    write("orders", {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no, dtype=np.int64),
        "o_orderstatus": pick(["F", "O", "P"], no),
        "o_totalprice": money(1000.0, 500000.0, no),
        "o_orderdate": _days(datetime.date(1995, 1, 1), rng, no, 2404),
        "o_orderpriority": pick(PRIORITIES, no)})

    nl = n["lineitem"]
    write("lineitem", {
        "l_orderkey": rng.integers(0, no, nl, dtype=np.int64),
        "l_partkey": rng.integers(0, npart, nl, dtype=np.int64),
        "l_suppkey": rng.integers(0, ns, nl, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": money(900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], nl),
        "l_linestatus": pick(["F", "O"], nl),
        "l_shipdate": _days(datetime.date(1995, 1, 2), rng, nl, 2498)})

    ne = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86400 * 10**6, ne))
    write("events", {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": start + offsets.astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(10, ne // 67), ne, dtype=np.int64),
        "event_type": pick(EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50.0, ne) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})

    # documents: random word strings, ~5% near-duplicates of an earlier
    # document (its text with " dup" appended) so dedup ops find clusters
    nd = n["documents"]
    lengths = rng.integers(10, 100, nd)
    word_ids = rng.integers(0, len(WORDS), int(lengths.sum()))
    dup_of = rng.integers(0, nd, nd)
    is_dup = rng.random(nd) < 0.05
    texts: list[str] = []
    pos = 0
    for i in range(nd):
        words = [WORDS[w] for w in word_ids[pos:pos + lengths[i]]]
        pos += lengths[i]
        if is_dup[i] and dup_of[i] < i:
            texts.append(texts[dup_of[i]] + " dup")
        else:
            texts.append(" ".join(words))
    write("documents", {
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": pick(LANGS, nd),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.asarray([len(t) for t in texts], dtype=np.int64)},
        row_group=DOC_ROW_GROUP)

    # embeddings: unit vectors clustered around one centre per label
    nv = n["embeddings"]
    centres = rng.standard_normal((EMB_LABELS, EMB_DIM))
    labels = rng.integers(0, EMB_LABELS, nv)
    vecs = centres[labels] + rng.standard_normal((nv, EMB_DIM)) * 0.8
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(
        np.float32)
    write("embeddings", {
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32)}, row_group=DOC_ROW_GROUP)
