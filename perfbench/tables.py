"""Deterministic star-schema tables for the ``ops-suite`` workload.

Writes the tables the benchmark's operator keys read — region, nation,
customer, supplier, orders, lineitem, events, documents, embeddings —
as one single-row-group parquet file each, with the column names and
Arrow types of the test data in TESTDATA.md. Row counts are those of
that data at sf0.01 (lineitem 60k rows) times ``scale``; the values are
drawn from a seeded numpy generator with the same ranges and
categories. Document text is drawn from a 30-word vocabulary with
planted exact copies and one-word edits of "benchmark" documents
(doc_id % 11 == 0), so the dedup and decontamination keys find matches.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region nation customer supplier orders lineitem "
          "events documents embeddings").split()

#: rows at scale 1.0 (TESTDATA.md's sf0.01); ``write(scale=)`` multiplies
ROWS = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
        "lineitem": 60000, "events": 10000, "documents": 500,
        "embeddings": 500}

_VOCAB = ("a the key agg row scan slow fast table value part hash merge "
          "batch spark line sort window stream vector column data query "
          "filter join group order small big customer").split()
_US_PER_DAY = 86_400_000_000


def _ts(start: datetime, micros: np.ndarray) -> pa.Array:
    base = int((start - datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    return pa.array(base + micros.astype(np.int64), type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> pa.Table:
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 11 and r < 0.02:  # exact copy of an earlier doc
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i > 11 and r < 0.08:  # one-word edit of an earlier doc_id % 11 == 0
            words = texts[11 * int(rng.integers(0, (i - 1) // 11 + 1))].split(" ")
            words[int(rng.integers(0, len(words)))] = _VOCAB[int(rng.integers(0, 30))]
            texts.append(" ".join(words))
            continue
        words = [_VOCAB[j] for j in rng.integers(0, len(_VOCAB), int(rng.integers(10, 101)))]
        if rng.random() < 0.05:
            words.append("dup")
        texts.append(" ".join(words))
    langs = np.array(["en", "zh", "de", "fr", "es"])[
        rng.choice(5, n, p=[0.41, 0.15, 0.14, 0.15, 0.15])]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs.tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def build(rng, scale: float = 1.0) -> dict[str, pa.Table]:
    n = {k: max(int(v * scale), 10) for k, v in ROWS.items()}
    nat = np.arange(25)
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        "nation": pa.table({
            "n_nationkey": pa.array(nat, pa.int32()),
            "n_name": [f"NATION_{i}" for i in nat],
            "n_regionkey": pa.array(nat % 5, pa.int32())}),
    }
    c = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": np.array(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                  "HOUSEHOLD", "MACHINERY"])[rng.integers(0, 5, c)].tolist()})
    s = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, s)})
    o = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
        "o_orderstatus": np.array(["O", "P", "F"])[rng.integers(0, 3, o)].tolist(),
        "o_totalprice": _money(rng, 1000, 500000, o),
        "o_orderdate": _ts(datetime(1995, 1, 1), rng.integers(0, 2405, o) * _US_PER_DAY),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[rng.integers(0, 5, o)].tolist()})
    li = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, li),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, li)].tolist(),
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, li)].tolist(),
        "l_shipdate": _ts(datetime(1995, 1, 2), rng.integers(0, 2498, li) * _US_PER_DAY)})
    e = n["events"]
    props = [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": _ts(datetime(2024, 1, 1), np.sort(rng.integers(0, 30 * _US_PER_DAY, e))),
        "user_id": pa.array(rng.integers(0, c, e), pa.int64()),
        "event_type": np.array(["view", "click", "purchase", "signup",
                                "error"])[rng.integers(0, 5, e)].tolist(),
        "value": np.round(rng.gamma(2.0, 20.0, e), 2),
        "props": pa.array(props, pa.string())})
    out["documents"] = _documents(rng, n["documents"])
    m = n["embeddings"]
    vecs = (rng.standard_normal((m, 64)) / 8).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(m), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, m), pa.int32())})
    return out


def write(out_dir: str, seed: int = 42, scale: float = 1.0) -> dict[str, int]:
    """Write every table under ``out_dir``; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    tables = build(np.random.default_rng(seed), scale)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=1 << 30)
    return {k: v.num_rows for k, v in tables.items()}
