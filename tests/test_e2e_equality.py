"""End-to-end byte-equality: Spark pipeline vs golden extractor.

THE binding contract (BASELINE.json north_rule): per-turn text equality
under stable turn ordering, byte-for-byte, invariant to partition count,
salt buckets, and Arrow batch size (SURVEY.md §5.2).
"""

import pytest

from ocrflow import reference as R
from ocrflow import synth
from ocrflow.pipeline import assemble_conversations, extract_df

N_TURNS = 600


@pytest.fixture(scope="module")
def rows():
    return synth.gen_rows(N_TURNS, seed=42, monster_every=20, monster_size=150)


@pytest.fixture(scope="module")
def golden(rows):
    out = {}
    for r in rows:
        res = R.extract_turn(r["text"], role=r["role"])
        out[(r["conv_id"], r["turn_idx"])] = res
    return out


def _transcripts_df(spark, rows):
    return spark.createDataFrame(rows, schema=synth.TRANSCRIPTS_DDL)


def _assert_matches_golden(out, golden):
    got = {(r["conv_id"], r["turn_idx"]): r for r in out.collect()}
    assert len(got) == len(golden)
    for key, res in golden.items():
        g = got[key]
        assert g["extracted_text"] == res.extracted_text, key
        assert g["payload_kind"] == res.payload_kind, key
        assert g["n_spans"] == res.n_spans, key
        gspans = [(s["start"], s["end"], R.SPAN_KINDS[s["kind_code"]],
                   s["score"]) for s in g["spans"]]
        assert gspans == res.spans, key


@pytest.mark.parametrize("partitions,salt", [(3, 1), (7, 4), (16, 8)])
def test_spark_matches_golden(spark, rows, golden, partitions, salt):
    df = _transcripts_df(spark, rows)
    out = extract_df(spark, df, partitions=partitions, salt_buckets=salt)
    _assert_matches_golden(out, golden)


@pytest.mark.parametrize("batch_rows", [1, 7, 16384])
def test_arrow_batch_size_invariance(spark, rows, golden, batch_rows):
    # the kernel scores blocks and segments spans once per Arrow batch:
    # one-row batches, ragged batches and a whole partition in one batch
    # must all give the same bytes
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", str(batch_rows))
    try:
        out = extract_df(spark, _transcripts_df(spark, rows), partitions=5)
        _assert_matches_golden(out, golden)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "64")


def test_conversation_reassembly_stable_order(spark, rows, golden):
    df = _transcripts_df(spark, rows)
    conv = assemble_conversations(extract_df(spark, df, partitions=6))
    got = {r["conv_id"]: r for r in conv.collect()}
    # golden reassembly: sort by turn_idx, join with '\n'
    by_conv = {}
    for (cid, tidx), res in golden.items():
        by_conv.setdefault(cid, []).append((tidx, res.extracted_text))
    for cid, turns in by_conv.items():
        expected = "\n".join(t for _, t in sorted(turns))
        assert got[cid]["conversation_text"] == expected, cid
        assert got[cid]["n_turns"] == len(turns)


def test_plan_shape(spark, rows):
    """Pushdown/pruning golden checks (SURVEY.md §4): only 3 columns
    reach the kernel; the explicit repartition is the only exchange."""
    df = _transcripts_df(spark, rows)
    out = extract_df(spark, df, partitions=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan or "PythonMapInArrow" in plan
    assert plan.count("Exchange") == 1


def test_decode_spans_roundtrip(spark, rows, golden):
    from ocrflow.pipeline import decode_spans
    out = decode_spans(extract_df(spark, _transcripts_df(spark, rows),
                                  partitions=4))
    got = {(r["conv_id"], r["turn_idx"]): r for r in out.collect()}
    for key, res in list(golden.items())[:50]:
        gspans = [(s["start"], s["end"], s["kind"], s["score"])
                  for s in got[key]["spans"]]
        assert gspans == res.spans, key
