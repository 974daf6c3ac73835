"""Property-based tests for the golden extractor (SURVEY.md §5.3)."""

import json
import os

import pyarrow as pa
from hypothesis import given, settings, strategies as st

from ocrflow import chartables as ct
from ocrflow import kernel
from ocrflow import reference as R

payloads = st.one_of(
    st.text(max_size=400),
    st.text(alphabet=st.characters(min_codepoint=0x4E00, max_codepoint=0x9FFF),
            max_size=100),
    st.builds(lambda body: f"<html><body><p>{body}</p></body></html>",
              st.text(max_size=200)),
    st.builds(lambda a, b: f"1,10,5,b0\t{a}\n1,5,5,b1\t{b}",
              st.text(alphabet=st.characters(blacklist_characters="\n\t",
                                             blacklist_categories=("Cs",)),
                      max_size=80),
              st.text(alphabet=st.characters(blacklist_characters="\n\t",
                                             blacklist_categories=("Cs",)),
                      max_size=80)),
)


@settings(max_examples=150, deadline=None)
@given(payloads)
def test_deterministic_and_total(payload):
    a = R.extract_turn(payload)
    b = R.extract_turn(payload)
    assert a.extracted_text == b.extracted_text
    assert a.spans == b.spans


@settings(max_examples=150, deadline=None)
@given(payloads)
def test_span_invariants(payload):
    r = R.extract_turn(payload)
    n = len(r.extracted_text)
    prev_start = -1
    for s, e, kind, score in r.spans:
        assert 0 <= s < e <= n
        assert s >= prev_start
        prev_start = s
        assert kind in R.SPAN_KINDS
        assert score == score  # not NaN
    # spans of the same pass never overlap (CJK per-char spans abut)
    ends = [e for _, e, _, _ in r.spans]
    starts = [s for s, _, _, _ in r.spans]
    for i in range(1, len(starts)):
        assert starts[i] >= starts[i - 1]


@settings(max_examples=100, deadline=None)
@given(payloads)
def test_idempotent_on_plain_output(payload):
    """Extracting an extraction's plain output is a fixpoint for text
    content (whitespace-collapsed plain paragraphs)."""
    first = R.extract_turn(payload)
    if first.payload_kind != "plain" and first.extracted_text:
        again = R.extract_turn(first.extracted_text)
        # re-extraction never invents characters
        assert set(again.extracted_text) <= set(first.extracted_text) | {" ", "\n"}


@settings(max_examples=100, deadline=None)
@given(st.text(max_size=300))
def test_no_control_chars_in_output(payload):
    out = R.extract_turn(payload).extracted_text
    assert not any(ord(c) < 0x20 and c not in "\n\t" for c in out)
    assert not any(0xD800 <= ord(c) < 0xE000 for c in out)


# --- batch kernel vs per-turn reference -------------------------------------

_cjk = st.characters(min_codepoint=0x4E00, max_codepoint=0x9FFF)
_line = st.text(alphabet=st.characters(blacklist_categories=("Cs",)), max_size=60)

turn_texts = st.one_of(
    st.none(),
    st.just(""),
    payloads,
    # code fence first / unterminated fence last
    st.builds(lambda code, tail: f"```\n{code}\n```\n\n{tail}", _line, _line),
    st.builds(lambda head, code: f"{head}\n\n```py\n{code}", _line, _line),
    # CJK as the first and last character
    st.builds(lambda a, mid, b: a + mid + b, _cjk, _line, _cjk),
    # every block dropped: link-only html, or prose too short to keep
    st.builds(lambda w: f"<p><a href='#'>{w}</a></p>", st.text(max_size=20)),
    st.text(alphabet="ab ", max_size=8),
)
turn_roles = st.sampled_from(["user", "assistant", "tool", "system", None])


def _kernel_vs_reference(texts, roles):
    n = len(texts)
    batch = pa.RecordBatch.from_pydict(
        {"conv_id": ["c"] * n, "turn_idx": list(range(n)),
         "role": roles, "text": texts},
        schema=pa.schema([("conv_id", pa.string()), ("turn_idx", pa.int32()),
                          ("role", pa.string()), ("text", pa.string())]))
    out = kernel.extract_batch(batch, ct.default_weights()).to_pylist()
    assert len(out) == n
    for text, role, row in zip(texts, roles, out):
        want = R.extract_turn(text, role=role)
        spans = [(s["start"], s["end"], R.SPAN_KINDS[s["kind_code"]], s["score"])
                 for s in row["spans"]]
        assert row["extracted_text"] == want.extracted_text, text
        assert row["payload_kind"] == want.payload_kind, text
        assert row["n_spans"] == want.n_spans, text
        assert spans == want.spans, text


@settings(max_examples=150, deadline=None)
@given(st.lists(st.tuples(turn_texts, turn_roles), min_size=1, max_size=50))
def test_kernel_batch_matches_per_turn_reference(turns):
    """kernel.extract_batch scores blocks and segments spans once per
    batch; every row must equal the per-turn reference."""
    _kernel_vs_reference([t for t, _ in turns], [r for _, r in turns])


def test_kernel_batch_of_all_golden_cases():
    gdir = os.path.join(os.path.dirname(__file__), "golden")
    cases = []
    for fname in sorted(os.listdir(gdir)):
        if fname.endswith(".json"):
            with open(os.path.join(gdir, fname)) as f:
                cases.append(json.load(f))
    _kernel_vs_reference([g["payload"] for g in cases],
                         [g.get("role") for g in cases])


def test_asof_union_merge_matches_naive_oracle(spark):
    """Randomized as-of check incl. ties: the union-merge join_asof
    must match a naive per-purchase scan (latest click with
    ts <= p.ts, max event_id on equal ts) on random event sets where
    identical timestamps across users/types are common."""
    import datetime
    import random

    from ocrflow.queries import QUERIES

    base = datetime.datetime(2024, 1, 1)
    for seed in (11, 22, 33):
        rng = random.Random(seed)
        rows = []
        eid = 0
        for _ in range(300):
            eid += 1
            rows.append((eid,
                         base + datetime.timedelta(seconds=rng.randrange(40)),
                         rng.randrange(6),
                         rng.choice(["click", "purchase", "view"]),
                         0.0, None))
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, "
                  "event_type string, value double, props string")
        import tempfile, os
        d = tempfile.mkdtemp(prefix=f"ocrflow_asof_{seed}_")
        df.write.parquet(os.path.join(d, "events.parquet"))

        got = {r["purchase_id"]: r["last_click_id"]
               for r in QUERIES["join_asof"](spark, d).collect()}

        clicks = [(e, t, u) for (e, t, u, k, _v, _p) in rows if k == "click"]
        expected = {}
        for (e, t, u, k, _v, _p) in rows:
            if k != "purchase":
                continue
            cands = [(ct, ce) for (ce, ct, cu) in clicks
                     if cu == u and ct <= t]
            expected[e] = max(cands)[1] if cands else None
        assert got == expected, f"seed {seed}"


def test_asof_forward_matches_naive_oracle(spark):
    """Randomized FORWARD as-of check incl. ties: join_asof_forward
    (earliest following click, min event_id on equal ts) vs a naive
    per-purchase scan on random event sets dense in ts collisions."""
    import datetime
    import os
    import random
    import tempfile

    from ocrflow.queries import QUERIES

    base = datetime.datetime(2024, 1, 1)
    for seed in (44, 55, 66):
        rng = random.Random(seed)
        rows = []
        eid = 0
        for _ in range(300):
            eid += 1
            rows.append((eid,
                         base + datetime.timedelta(seconds=rng.randrange(40)),
                         rng.randrange(6),
                         rng.choice(["click", "purchase", "view"]),
                         0.0, None))
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, "
                  "event_type string, value double, props string")
        d = tempfile.mkdtemp(prefix=f"ocrflow_fasof_{seed}_")
        df.write.parquet(os.path.join(d, "events.parquet"))

        got = {r["purchase_id"]: r["next_click_id"]
               for r in QUERIES["join_asof_forward"](spark, d).collect()}

        clicks = [(e, t, u) for (e, t, u, k, _v, _p) in rows if k == "click"]
        expected = {}
        for (e, t, u, k, _v, _p) in rows:
            if k != "purchase":
                continue
            cands = [(ct, ce) for (ce, ct, cu) in clicks
                     if cu == u and ct >= t]
            expected[e] = min(cands)[1] if cands else None
        assert got == expected, f"seed {seed}"


def test_skyline_window_sweep_matches_bruteforce(spark):
    """Randomized skyline check incl. heavy vq ties: the O(n log n)
    window sweep must equal the O(n^2) strict-dominance definition on
    random points where many rows share the same quantized value (the
    tie regime where a wrong frame bound — peers leaking into their
    own frame — would silently drop frontier rows)."""
    import datetime
    import random

    from ocrflow.queries import QUERIES

    base = datetime.datetime(2024, 1, 1)
    for seed in (7, 19, 42):
        rng = random.Random(seed)
        rows = []
        for eid in range(1, 301):
            # values quantize to just ~12 distinct vq buckets → dense ties
            rows.append((eid,
                         base + datetime.timedelta(
                             seconds=rng.randrange(50),
                             microseconds=rng.randrange(3) * 500000),
                         rng.randrange(4),
                         rng.choice(["a", "b"]),
                         rng.randrange(12) / 100.0 + rng.random() * 1e-9,
                         None))
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, "
                  "event_type string, value double, props string")
        import tempfile, os
        d = tempfile.mkdtemp(prefix=f"ocrflow_sky_{seed}_")
        df.write.parquet(os.path.join(d, "events.parquet"))

        got = {(r["event_type"], r["event_id"])
               for r in QUERIES["skyline_pareto"](spark, d).collect()}

        import math
        pts = [(k, e, math.floor(v * 100), t)
               for (e, t, u, k, v, _p) in rows]
        expected = {(k, e) for (k, e, vq, t) in pts
                    if not any(k2 == k and vq2 > vq and t2 > t
                               for (k2, _e2, vq2, t2) in pts)}
        assert got == expected, f"seed {seed}"


def test_asof_nearest_matches_naive_oracle(spark):
    """Randomized nearest-as-of check in the dense-tie regime (coarse
    second timestamps): the single-pass union-merge must match a naive
    per-purchase scan over all clicks ranked by (|Δt|, backward-first,
    then max-id among backward / min-id among forward)."""
    import datetime
    import random

    from ocrflow.queries import QUERIES

    base = datetime.datetime(2024, 1, 1)
    for seed in (5, 13, 77):
        rng = random.Random(seed)
        rows = []
        for eid in range(1, 301):
            rows.append((eid,
                         base + datetime.timedelta(seconds=rng.randrange(30)),
                         rng.randrange(5),
                         rng.choice(["click", "purchase", "view"]),
                         0.0, None))
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, "
                  "event_type string, value double, props string")
        import os
        import tempfile
        d = tempfile.mkdtemp(prefix=f"ocrflow_near_{seed}_")
        df.write.parquet(os.path.join(d, "events.parquet"))

        got = {r["purchase_id"]: r["click_id"]
               for r in QUERIES["join_asof_nearest"](spark, d).collect()}

        clicks = [(e, t) for (e, t, u, k, _v, _p) in rows if k == "click"]
        by_user = {}
        for (e, t, u, k, _v, _p) in rows:
            if k == "click":
                by_user.setdefault(u, []).append((e, t))
        expected = {}
        for (e, t, u, k, _v, _p) in rows:
            if k != "purchase" or u not in by_user:
                continue
            cand = []
            for (ce, ct) in by_user[u]:
                dsec = abs((ct - t).total_seconds())
                backward = ct <= t
                tb = -ce if backward else ce
                cand.append((dsec, 0 if backward else 1, tb, ce))
            cand.sort()
            expected[e] = cand[0][3]
        assert got == expected, f"seed {seed}"


def test_global_prefix_sums_matches_single_partition_window(spark):
    """global_prefix_sums must equal the naive single-partition window
    on every value — including run-to-run stability (the sampled
    range-exchange hazard §r04y regressed EXACTLY here: branches
    disagreed only on some executions). Deterministic seeded data,
    two payload columns, two repetitions, several bucket counts."""
    import ocrflow.dataops as D
    from pyspark.sql import functions as F, Window as W

    rows = [(float((i * 37) % 500) + (i % 3) * 0.25,
             (i * 13) % 7 + 1, (i * 29) % 11 + 1)
            for i in range(2000)]
    df = spark.createDataFrame(rows, "v double, a int, b int") \
        .groupBy("v").agg(F.sum("a").alias("a"), F.sum("b").alias("b"))
    truth = {r["v"]: (r["a_ps"], r["b_ps"]) for r in df.select(
        "v",
        F.coalesce(F.sum("a").over(
            W.orderBy("v").rowsBetween(W.unboundedPreceding, -1)),
            F.lit(0)).alias("a_ps"),
        F.coalesce(F.sum("b").over(
            W.orderBy("v").rowsBetween(W.unboundedPreceding, -1)),
            F.lit(0)).alias("b_ps")).collect()}
    for parts in (2, 8, 32):
        for _rep in range(2):
            got = {r["v"]: (r["a_ps"], r["b_ps"])
                   for r in D.global_prefix_sums(
                       df, "v", ["a", "b"], partitions=parts)
                   .select("v", "a_ps", "b_ps").collect()}
            assert got == truth, f"partitions={parts} rep={_rep}"


def test_global_rank_matches_single_partition_window(spark):
    """global_rank must equal the naive single-partition row_number on
    multi-column keys — including a STRING leading key with empty,
    non-ASCII, shared-prefix, and NULL values (the surrogate encoding's
    edge cases) — across bucket counts and repeated runs. This is the
    determinism twin of the global_prefix_sums property test: the old
    spark_partition_id()-after-sampled-range-exchange form could
    disagree between its offsets and join branches whenever
    ReuseExchange did not dedupe them."""
    import ocrflow.dataops as D
    from pyspark.sql import functions as F, Window as W

    langs = ["", "a", "ab", "abX", "b", "zz", "Ā", "Āb", "Ǝa", "中文", None]
    rows = [(langs[i % len(langs)], (i * 37) % 50, i) for i in range(1000)]
    df = spark.createDataFrame(rows, "k string, n int, id long")
    keys = ["k", "n", "id"]
    truth = {r["id"]: r["rn"] for r in df.select(
        "id", F.row_number().over(W.orderBy(*keys)).alias("rn")).collect()}
    for parts in (2, 8, 32):
        for _rep in range(2):
            got = {r["id"]: r["rn"]
                   for r in D.global_rank(df, keys, partitions=parts)
                   .select("id", "rn").collect()}
            assert got == truth, f"partitions={parts} rep={_rep}"

    # numeric and timestamp leading keys take the cast-to-double path
    rows2 = [(float((i * 13) % 97) / 4.0, i) for i in range(500)]
    df2 = spark.createDataFrame(rows2, "v double, id long")
    truth2 = {r["id"]: r["rn"] for r in df2.select(
        "id", F.row_number().over(W.orderBy("v", "id")).alias("rn")
    ).collect()}
    got2 = {r["id"]: r["rn"]
            for r in D.global_rank(df2, ["v", "id"], partitions=8)
            .select("id", "rn").collect()}
    assert got2 == truth2


def test_edit_candidates_sentinel_survives_hot_cap(spark):
    """Unconditional tiny-doc losslessness: with MORE tiny docs than
    the hot-gram cap (300 > 256), every tiny-vs-tiny pair must still
    surface — the sentinel buckets are exempt from max_bucket (the
    round-5 ADVICE fix; before it, a popular sentinel bucket was
    silently dropped and all tiny pairs lost). Identical 8-char docs:
    lev = 0 ≤ d, so all C(300,2) pairs are true candidates."""
    from ocrflow.dataops import edit_candidates
    docs = spark.createDataFrame(
        [(i, "abcdefgh", 8) for i in range(300)],
        "doc_id long, text string, ln int")
    assert edit_candidates(docs).count() == 300 * 299 // 2


def test_edit_candidates_sentinel_length_keys_split_and_cover(spark):
    """The sentinel is keyed by prefix-doc length: (a) tiny docs whose
    lengths differ by more than d never meet (no quadratic all-tiny
    bucket), and (b) a boundary pair — 17-char prefix-tiny doc vs a
    21-char container doc (>= l_tiny, so it posts no pfx sentinel) at
    length gap d — is still covered via the container's reach-down
    postings."""
    from ocrflow.dataops import edit_candidates
    docs = spark.createDataFrame(
        [(1, "abc", 3), (2, "abcdefghijklmno", 15)],
        "doc_id long, text string, ln int")
    far = {(r["doc_a"], r["doc_b"]) for r in edit_candidates(docs).collect()}
    assert (1, 2) not in far
    t17 = "abcdefghijklmnopq"          # 17 chars: prefix-tiny
    t21 = t17 + "rstu"                 # 21 chars: container-only, lev = 4
    docs2 = spark.createDataFrame(
        [(1, t17, 17), (2, t21, 21)],
        "doc_id long, text string, ln int")
    near = {(r["doc_a"], r["doc_b"]) for r in edit_candidates(docs2).collect()}
    assert (1, 2) in near


def test_global_rank_date_leading_key(spark):
    """The date-typed surrogate branch (days-since-epoch): ranks must
    equal the single-partition window on a (date, id) key."""
    import datetime
    import ocrflow.dataops as D
    from pyspark.sql import functions as F, Window as W

    base = datetime.date(2023, 1, 1)
    rows = [(base + datetime.timedelta(days=(i * 17) % 400), i)
            for i in range(600)]
    df = spark.createDataFrame(rows, "d date, id long")
    truth = {r["id"]: r["rn"] for r in df.select(
        "id", F.row_number().over(W.orderBy("d", "id")).alias("rn")
    ).collect()}
    got = {r["id"]: r["rn"]
           for r in D.global_rank(df, ["d", "id"], partitions=8)
           .select("id", "rn").collect()}
    assert got == truth


def test_global_rank_cjk_buckets_spread_and_rank(spark):
    """Round-6 surrogate fix (round-5 VERDICT #1): a CJK-leading
    blocking key must SPREAD across width_buckets instead of
    collapsing into one (the 32768.0 collapse made the per-bucket
    window a single-partition funnel on the engine's heritage
    corpus), and ranks must still equal the single-partition window —
    including supplementary-plane and surrogate-clamped characters."""
    import ocrflow.dataops as D
    from pyspark.sql import functions as F, Window as W

    # 1000 rows over 40 distinct CJK lead chars (U+4E00..U+9FFF band)
    leads = [chr(0x4E00 + 137 * i) for i in range(40)]
    rows = [(leads[i % 40] + chr(0x4E00 + (i * 31) % 2000), i)
            for i in range(1000)]
    df = spark.createDataFrame(rows, "k string, id long")
    keys = ["k", "id"]
    truth = {r["id"]: r["rn"] for r in df.select(
        "id", F.row_number().over(W.orderBy(*keys)).alias("rn")).collect()}
    got = {r["id"]: r["rn"]
           for r in D.global_rank(df, keys, partitions=8)
           .select("id", "rn").collect()}
    assert got == truth
    # bucket-balance: reconstruct the surrogate's bucket histogram the
    # way global_rank assigns it and require near-uniform spread (the
    # old collapse put 100% of rows in ONE bucket)
    c = F.col("k")
    c1 = F.least(F.ascii(c).cast("double"), F.lit(55296.0))
    c2 = F.least(F.ascii(F.substring(c, 2, 1)).cast("double"), F.lit(128.0))
    sur = c1 * 2048.0 + F.coalesce(c2, F.lit(0.0))
    lo, hi = df.agg(F.min(sur), F.max(sur)).first()
    hist = (df.withColumn(
        "b", F.least(F.width_bucket(sur, F.lit(lo), F.lit(hi), F.lit(8)),
                     F.lit(8)))
        .groupBy("b").count().collect())
    assert len(hist) >= 6, hist            # spread over most buckets
    assert max(r["count"] for r in hist) <= 400, hist  # no mega-bucket

    # supplementary-plane + clamp band: monotone surrogate, exact ranks
    rows2 = [("\U00010348a", 1), ("x", 2), ("�y", 3),
             ("中z", 4), ("Az", 5), ("", 6)]
    df2 = spark.createDataFrame(rows2, "k string, id long")
    truth2 = {r["id"]: r["rn"] for r in df2.select(
        "id", F.row_number().over(W.orderBy("k", "id")).alias("rn")
    ).collect()}
    got2 = {r["id"]: r["rn"]
            for r in D.global_rank(df2, ["k", "id"], partitions=4)
            .select("id", "rn").collect()}
    assert got2 == truth2


def test_emb_jl_literal_signs_match_spark_md5(spark):
    """emb_jl_projection's round-6 rewrite precomputes the Rademacher
    matrix with hashlib.md5; it must be bit-identical to the Spark
    md5('i:j') rule the oracle (and the old per-element form) uses."""
    import hashlib
    from pyspark.sql import functions as F

    df = spark.range(1, 129).selectExpr("id AS i")
    for j in (1, 2, 3, 4):
        got = {r["i"]: r["h"] for r in df.select(
            "i", F.substring(F.md5(F.concat_ws(
                ":", F.col("i").cast("string"), F.lit(str(j)))), 1, 1)
            .alias("h")).collect()}
        for i in range(1, 129):
            exp = hashlib.md5(f"{i}:{j}".encode()).hexdigest()[0]
            assert (got[i] < "8") == (exp < "8"), (i, j)
