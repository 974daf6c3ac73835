"""The three closed-loop workloads: one client, one job at a time.

Each workload has the same shape:

- ``make_inputs(ctx)`` writes its input under the run's work dir (set-up);
- ``check(ctx)`` runs one untimed pass and verifies its output, returning
  ``(attempted, failed)`` item counts;
- ``run_pass(ctx, group)`` runs one timed pass and returns a ``Pass``;
  with ``group`` set, each operation runs under Spark job group
  ``group/<op>`` so the status store can be read per operation;
- extraction workloads also have ``replay_batches(ctx)``: the Arrow
  batches of their input at the session's batch size, for the kernel
  replay of a traced run.
"""

from __future__ import annotations

import hashlib
import math
import os
import shutil
import time
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq

#: synth.TRANSCRIPTS_DDL as Arrow
_TRANSCRIPTS = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
    ("text", pa.string()), ("tool", pa.string()), ("ts", pa.timestamp("us"))])


@dataclass
class Pass:
    items: int  # turns (extraction workloads) or keys (ops-suite)
    op_walls: list  # (op name, seconds)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _set_group(spark, group, op):
    if group is not None:
        spark.sparkContext.setJobGroup(f"{group}/{op}", op)


# ---------------------------------------------------------------- digests
# Per-turn digests of the extraction output, computed inside Spark's
# Python workers so the reference extractor runs on every core.

def _digest(text, kind, n_spans, spans) -> str:
    raw = repr((text, kind, n_spans, spans)).encode("utf-8", "surrogatepass")
    return hashlib.sha1(raw).hexdigest()


_DIGEST_DDL = "conv_id string, turn_idx int, digest string"
_DIGEST_SCHEMA = pa.schema([("conv_id", pa.string()), ("turn_idx", pa.int32()),
                           ("digest", pa.string())])


def _reference_digests(batches):
    from ocrflow import reference as R
    for b in batches:
        d = b.to_pydict()
        digests = []
        for text, role in zip(d["text"], d["role"]):
            r = R.extract_turn(text, role=role)
            digests.append(_digest(r.extracted_text, r.payload_kind,
                                   r.n_spans, r.spans))
        yield pa.RecordBatch.from_pydict(
            {"conv_id": d["conv_id"], "turn_idx": d["turn_idx"],
             "digest": digests}, schema=_DIGEST_SCHEMA)


def _output_digests(batches):
    from ocrflow.reference import SPAN_KINDS
    for b in batches:
        d = b.to_pydict()
        digests = [
            _digest(text, kind, n,
                    [(s["start"], s["end"], SPAN_KINDS[s["kind_code"]], s["score"])
                     for s in spans])
            for text, kind, n, spans in zip(d["extracted_text"], d["payload_kind"],
                                            d["n_spans"], d["spans"])]
        yield pa.RecordBatch.from_pydict(
            {"conv_id": d["conv_id"], "turn_idx": d["turn_idx"],
             "digest": digests}, schema=_DIGEST_SCHEMA)


def _collect_digests(df, fn) -> tuple[dict, int]:
    """(conv_id, turn_idx) → digest, and the number of rows collected."""
    rows = df.mapInArrow(fn, _DIGEST_DDL).collect()
    return {(r[0], r[1]): r[2] for r in rows}, len(rows)


def _batches_of(table_path: str, columns, batch_rows: int):
    ds = pads.dataset(table_path, format="parquet")
    for batch in ds.to_batches(columns=columns, batch_size=batch_rows):
        if batch.num_rows:
            yield batch


# ------------------------------------------------------------ extraction

class ExtractMixed:
    """Default synth mix with monster conversations → extract_df → noop."""

    name = "extract-mixed"
    layers = ("pipeline",)
    warmups = 1  # noop passes after the check pass

    def __init__(self, turns: int = 12_000):
        self.turns = turns

    def _synth(self, ctx, path, files):
        """synth.gen_rows in this process (no Spark job, so set-up does
        not pay for Python-worker start), written as ``files`` files."""
        from ocrflow import synth
        rows = synth.gen_rows(self.turns, seed=ctx.seed, monster_every=100,
                              monster_size=max(self.turns // 10, 1))
        tbl = pa.table({k: [r[k] for r in rows] for k in _TRANSCRIPTS.names},
                       schema=_TRANSCRIPTS)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        step = -(-tbl.num_rows // files)
        for i in range(files):
            pq.write_table(tbl.slice(i * step, step),
                           os.path.join(path, f"part-{i:05d}.parquet"))

    def make_inputs(self, ctx):
        self.input = ctx.path(f"{self.name}-input")
        self._synth(ctx, self.input, 2 * ctx.nproc)

    def _extract(self, ctx):
        from ocrflow import pipeline
        return pipeline.extract_df(ctx.spark, ctx.spark.read.parquet(self.input))

    def check(self, ctx):
        got, n_got = _collect_digests(self._extract(ctx), _output_digests)
        want, _ = _collect_digests(
            ctx.spark.read.parquet(self.input).select("conv_id", "turn_idx", "text", "role"),
            _reference_digests)
        bad = (sum(got.get(k) != v for k, v in want.items())  # wrong or missing
               + len(set(got) - set(want)) + n_got - len(got))  # extra or repeated
        return len(want), bad

    def run_pass(self, ctx, group=None):
        _set_group(ctx.spark, group, "extract")
        t0 = time.perf_counter()
        _noop(self._extract(ctx))
        return Pass(self.turns, [("extract", time.perf_counter() - t0)])

    def replay_batches(self, ctx):
        return _batches_of(self.input, ["conv_id", "turn_idx", "text", "role"],
                           ctx.arrow_batch)


class ResumeAppend(ExtractMixed):
    """Parquet input files → runner.run_extract into a fresh icelite
    table, ``chunk`` files per commit, then one resume that finds nothing
    pending."""

    name = "resume-append"
    layers = ("pipeline", "runner", "icelite")
    warmups = 0  # the check cycle is a full warm-up

    def __init__(self, turns: int = 6_000, files: int = 4, chunk: int = 2):
        super().__init__(turns)
        self.files, self.chunk = files, chunk
        self._tables = 0

    def make_inputs(self, ctx):
        self.input = ctx.path(f"{self.name}-input")
        self._synth(ctx, self.input, self.files)

    def _cycle(self, ctx, group=None):
        from ocrflow import runner
        self._tables += 1
        table = ctx.path(f"{self.name}-table-{self._tables}")
        walls, results, rows = [], [], 0
        while True:
            op = f"run{len(walls)}"
            _set_group(ctx.spark, group, op)
            t0 = time.perf_counter()
            r = runner.run_extract(ctx.spark, self.input, table,
                                   max_files=self.chunk)
            walls.append((op, time.perf_counter() - t0))
            results.append(r)
            rows += r["rows_out"]
            if r["files_processed"] == 0 or len(walls) > self.files + 1:
                return table, walls, results, rows

    def check(self, ctx):
        from ocrflow.icelite import IceliteTable
        table, _, results, _ = self._cycle(ctx)
        out = IceliteTable(table).read(ctx.spark).select("conv_id", "turn_idx")
        inp = ctx.spark.read.parquet(self.input).select("conv_id", "turn_idx")
        n_out = out.count()
        n_distinct = out.distinct().count()
        missing = inp.join(out, ["conv_id", "turn_idx"], "left_anti").count()
        n_in = inp.count()
        checks = [n_out == n_in,                        # committed rows = input turns
                  n_distinct == n_out,                  # no duplicate (conv_id, turn_idx)
                  missing == 0,                         # every input turn committed
                  results[-1]["files_processed"] == 0,  # final resume is a no-op
                  len(results) == math.ceil(self.files / self.chunk) + 1]
        shutil.rmtree(table, ignore_errors=True)
        return len(checks), checks.count(False)

    def run_pass(self, ctx, group=None):
        table, walls, _, rows = self._cycle(ctx, group)
        shutil.rmtree(table, ignore_errors=True)
        return Pass(rows, walls)


# ------------------------------------------------------------- operators

#: 12 of bench.HEADLINE: the ROADMAP carried items, two shuffled-hash
#: pins, three more widen() callers (the first three carried items call
#: widen() too) and controls that use none of those. tpch_q7_shape,
#: dedup_edit_scanner and search_bm25_topk are left out to keep a run
#: near 60 s: the untimed first pass over every key is the costly part.
OPS_KEYS = (
    "assoc_pairs_support", "emb_jl_projection", "decontaminate_fuzzy",
    "dedup_materialize",
    "tpch_q5_shape", "tpch_q21_shape",
    "dedup_kgram_exact", "text_quality_score", "str_regexp",
    "scan_pruned", "agg_hash", "join_salted_skew",
)


def _norm(v):
    """The value normalisation of tests/test_oracle.py."""
    if v is None:
        return None
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if hasattr(v, "isoformat"):
        return v.isoformat().replace("+00:00", "")
    return v


def _rendered(cols, rows):
    """Column-name-sorted, row-sorted, str()-rendered rows."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(str(_norm(r[i])) for i in idx) for r in rows)


class OpsSuite:
    """Each key of OPS_KEYS once per pass, noop sink, fixed tables."""

    name = "ops-suite"
    layers = ("queries",)
    warmups = 1  # the check pass collects; the first noop pass is still ~20% slower
    #: the tables are fixed (seed 42) whatever the run's seed; a quarter
    #: of sf0.01 keeps the per-run DuckDB oracle check near 2 s
    TABLE_SEED, TABLE_SCALE = 42, 0.25

    def __init__(self, keys=OPS_KEYS):
        self.keys = keys

    def make_inputs(self, ctx):
        from perfbench import tables
        self.sf = ctx.path(f"{self.name}-tables")
        tables.write(self.sf, seed=self.TABLE_SEED, scale=self.TABLE_SCALE)

    @staticmethod
    def _queries():
        import ocrflow.dataops  # noqa: F401 — registers dataops keys
        from ocrflow.queries import ORACLE, QUERIES
        return QUERIES, ORACLE

    def check(self, ctx):
        import duckdb
        from perfbench.tables import TABLES
        queries, oracle = self._queries()
        con = duckdb.connect()
        try:
            for name in TABLES:
                con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                            f"read_parquet('{self.sf}/{name}.parquet')")
            bad = []
            for key in self.keys:
                sdf = queries[key](ctx.spark, self.sf)
                got = _rendered(sdf.columns, [tuple(r) for r in sdf.collect()])
                rel = con.execute(oracle[key])
                want = _rendered([d[0] for d in rel.description], rel.fetchall())
                if got != want or not got or sorted(sdf.columns) != sorted(
                        d[0] for d in rel.description):
                    bad.append(key)
        finally:
            con.close()
        if bad:
            ctx.log(f"ops-suite oracle mismatch: {bad}")
        return len(self.keys), len(bad)

    def run_pass(self, ctx, group=None):
        queries, _ = self._queries()
        walls = []
        for key in self.keys:
            _set_group(ctx.spark, group, key)
            t0 = time.perf_counter()
            _noop(queries[key](ctx.spark, self.sf))
            walls.append((key, time.perf_counter() - t0))
        return Pass(len(self.keys), walls)


WORKLOADS = {w.name: w for w in (ExtractMixed, ResumeAppend, OpsSuite)}
