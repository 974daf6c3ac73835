"""bench/growth.py: the replicated dirs keep row counts, key uniqueness
and the order↔lineitem overlap, and the harness refuses to start under
load."""

import importlib.util
import os

import pytest
from pyspark.sql import functions as F

from test_dataops import SF_DIR

_PATH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                     "bench", "growth.py")
_spec = importlib.util.spec_from_file_location("growth", _PATH)
growth = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(growth)

FACT_KEYS = {"documents": "doc_id", "events": "event_id",
             "embeddings": "vec_id", "orders": "o_orderkey",
             "lineitem": "l_orderkey"}


def test_replicate_doubles_facts_with_shifted_keys(spark, tmp_path):
    out = growth.replicate(spark, SF_DIR, 2, str(tmp_path / "x2"))

    def read(d, name):
        return spark.read.parquet(f"{d}/{name}.parquet")

    def counts(d, name):
        return tuple(read(d, name).agg(
            F.count("*"), F.countDistinct(FACT_KEYS[name])).first())

    for name in FACT_KEYS:
        rows, keys = counts(out, name)
        src_rows, src_keys = counts(SF_DIR, name)
        assert (rows, keys) == (2 * src_rows, 2 * src_keys), name
        if name != "lineitem":
            assert keys == rows, name

    orders, lineitem = read(out, "orders"), read(out, "lineitem")
    assert lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"),
                         "left_anti").count() == 0

    docs, src_docs = read(out, "documents"), read(SF_DIR, "documents")
    replicas = docs.join(src_docs.select("doc_id"), "doc_id", "left_anti")
    assert replicas.count() == src_docs.count()
    assert replicas.filter(~F.col("text").endswith(" rep1")).count() == 0

    for name in growth.STATIC_TABLES:
        assert read(out, name).count() == read(SF_DIR, name).count(), name


def test_growth_refuses_to_start_under_load(tmp_path, monkeypatch):
    monkeypatch.setattr(growth.os, "getloadavg", lambda: (9.0, 9.0, 9.0))
    out = tmp_path / "g.json"
    with pytest.raises(SystemExit) as exc:
        growth.main(["--ops", "agg_hash", "--scales", "1,4", "--out", str(out)])
    assert exc.value.code not in (0, None)
    assert not out.exists()
