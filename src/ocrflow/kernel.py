"""The Arrow record-batch extraction kernel (SURVEY.md §2.A A2–A7, A9).

This is the graft analog of the reference's inference hot loop: the JVM
streams Arrow record batches into the Python worker
(``df.mapInArrow``), the kernel runs the A2–A7 extraction per batch,
and span columns are assembled as flat Arrow buffers — no per-span
Python objects cross back. Payload sniff and block segmentation
(A2/A3) and the stitch (A7) run per turn; block scoring (A6) and span
segmentation (A4) run once per batch, over all of the batch's blocks
and over its stitched turns joined with '\n', so their fixed numpy
call cost is paid per batch, not per turn. ``reference.py`` stays per
turn and is the oracle this batch path is tested against.

Model state (weights/thresholds) arrives via a Spark broadcast created
once per run and deserialized once per executor (A9), mirroring the
reference's load-model-once behavior.

Batch size is governed by ``spark.sql.execution.arrow.maxRecordsPerBatch``
— the graft analog of the reference's inference batch size
(BASELINE.json north_star: "inference batches sized per Arrow record
batch to keep the classify kernel saturated").
"""

from __future__ import annotations

import sys
import time
import zipimport

import numpy as np
import pyarrow as pa

from . import chartables as ct
from . import reference as R

#: Spark DDL for the extracted table (SURVEY.md §1.2, amended: span kind
#: ships as a dictionary CODE, not a string — 5.6M per-span UTF8String
#: materializations in the JVM collapsed 32-core throughput ~6x; decode
#: lazily with pipeline.decode_spans() / kernel.SPAN_KINDS)
EXTRACTED_DDL = (
    "conv_id string, turn_idx int, extracted_text string, "
    "spans array<struct<start:int, end:int, kind_code:tinyint, score:double>>, "
    "payload_kind string, n_spans int"
)

_SPAN_STRUCT = pa.struct([
    pa.field("start", pa.int32()),
    pa.field("end", pa.int32()),
    pa.field("kind_code", pa.int8()),
    pa.field("score", pa.float64()),
])

_OUT_SCHEMA = pa.schema([
    pa.field("conv_id", pa.string()),
    pa.field("turn_idx", pa.int32()),
    pa.field("extracted_text", pa.string()),
    pa.field("spans", pa.list_(_SPAN_STRUCT)),
    pa.field("payload_kind", pa.string()),
    pa.field("n_spans", pa.int32()),
])

#: kind-code → kind-string dictionary (export for consumers)
SPAN_KINDS = R.SPAN_KINDS


def _block_scores(blocks: list[R.Block], weights: dict) -> np.ndarray:
    """A6 over every block of a batch, before the role prior: one
    class-table pass over all block text, per-block CJK counts by
    reduceat on the block offsets, one ``score_blocks`` call."""
    nb = len(blocks)
    lengths = np.fromiter((len(b.text) for b in blocks), dtype=np.int64, count=nb)
    ld = np.fromiter((b.link_density for b in blocks), dtype=np.float64, count=nb)
    code = np.fromiter((b.is_code for b in blocks), dtype=np.float64, count=nb)
    is_cjk = (ct.char_classes("".join(b.text for b in blocks))
              == ct.CLS_CJK).astype(np.int64)
    first = np.zeros(nb, dtype=np.int64)
    np.cumsum(lengths[:-1], out=first[1:])
    counts = np.add.reduceat(is_cjk, first) if nb else first
    cjk = counts / np.maximum(lengths, 1)
    return ct.score_blocks(lengths.astype(np.float64), ld, code, cjk,
                           weights["block_weights"])


def extract_batch(batch: pa.RecordBatch, weights: dict) -> pa.RecordBatch:
    """Extract one Arrow batch; returns the extracted batch.

    A2/A3 (payload sniff, block segmentation) and the A7 stitch run per
    turn. A6 scores every block of the batch in one call, with the role
    prior as a per-block array. A4 segments the stitched turns joined
    with '\n' in one call: '\n' is a space class, so no span run
    crosses a turn. ``searchsorted`` on the turn offsets splits the
    span arrays back into turns, and those split points are the list
    offsets of the span column.
    """
    texts = batch.column(batch.schema.get_field_index("text")).to_pylist()
    role_idx = batch.schema.get_field_index("role")
    roles = (batch.column(role_idx).to_pylist() if role_idx >= 0
             else [None] * len(texts))
    n = len(texts)

    # A2/A3 per turn
    kinds: list[str] = []
    blocks: list[R.Block] = []
    n_blocks = np.zeros(n, dtype=np.int64)
    prior = np.zeros(n, dtype=np.float64)
    role_prior = weights.get("role_prior", {})
    for i, t in enumerate(texts):
        if not t:
            kinds.append(R.PAYLOAD_PLAIN)
            continue
        kind = R.detect_payload_kind(t)
        if kind == R.PAYLOAD_HTML:
            turn_blocks = R.segment_html(t)
        elif kind == R.PAYLOAD_PDF:
            turn_blocks = R.segment_pdf(t)
        else:
            turn_blocks = R.segment_plain(t)
        kinds.append(kind)
        blocks.extend(turn_blocks)
        n_blocks[i] = len(turn_blocks)
        prior[i] = role_prior.get(roles[i], 0.0)

    # A6 once per batch
    scores = _block_scores(blocks, weights) + np.repeat(prior, n_blocks)
    keep = (scores >= weights["tau"]).tolist()

    # A7 per turn; code ranges and turn offsets index the batch text
    ex_texts: list[str] = []
    code_ranges: list[tuple[int, int]] = []
    turn_off = np.zeros(n, dtype=np.int64)
    pos = j = 0
    for i, nb in enumerate(n_blocks.tolist()):
        kept = [b for b, k in zip(blocks[j:j + nb], keep[j:j + nb]) if k]
        j += nb
        turn_off[i] = p = pos
        for b in kept:
            if b.is_code:
                code_ranges.append((p, p + len(b.text)))
            p += len(b.text) + 1
        text = "\n".join(b.text for b in kept)
        ex_texts.append(text)
        pos += len(text) + 1

    # A4 once per batch
    starts, ends, kcodes = R.segment_spans("\n".join(ex_texts), code_ranges)
    offsets = np.append(np.searchsorted(starts, turn_off), len(starts))
    shift = np.repeat(turn_off, np.diff(offsets))
    starts = starts - shift
    ends = ends - shift
    scores = ct.score_spans(kcodes, (ends - starts).astype(np.float64),
                            R._BASE_BY_CODE)

    span_struct = pa.StructArray.from_arrays(
        [pa.array(starts.astype(np.int32), type=pa.int32()),
         pa.array(ends.astype(np.int32), type=pa.int32()),
         pa.array(kcodes.astype(np.int8), type=pa.int8()),
         pa.array(scores, type=pa.float64())],
        fields=list(_SPAN_STRUCT))
    spans = pa.ListArray.from_arrays(
        pa.array(offsets.astype(np.int32), type=pa.int32()), span_struct)
    n_spans = np.diff(offsets).astype(np.int32)

    return pa.RecordBatch.from_arrays(
        [batch.column(batch.schema.get_field_index("conv_id")),
         batch.column(batch.schema.get_field_index("turn_idx")).cast(pa.int32()),
         pa.array(ex_texts, type=pa.string()),
         spans,
         pa.array(kinds, type=pa.string()),
         pa.array(n_spans, type=pa.int32())],
        schema=_OUT_SCHEMA)


def _drop_zip_importers() -> None:
    """Remove every ``zipimporter`` from ``sys.path_importer_cache``.

    PySpark's worker calls ``importlib.invalidate_caches()`` at the
    start of every task, and on CPython 3.11 that makes each cached
    ``zipimporter`` re-read its archive's whole central directory. A
    warm worker holds one per package directory of ``pyspark.zip``,
    the py4j zip and the spark-core jar, so every task re-read those
    archives many times before any extraction ran (≈0.2 s of worker
    CPU per task on a 4-core host). With the entries gone, the next
    import that needs an archive gets a new importer from the path
    hook, which takes the directory from zipimport's own cache instead
    of the file; the next task's invalidation finds little to re-read.

    Safe because the archives on Spark's worker path do not change
    while a worker lives: a cached directory never goes stale.
    """
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            cache.pop(path, None)


def make_kernel(broadcast_weights, lineage_acc=None, input_file_col: str | None = None):
    """Build the mapInArrow function.

    ``broadcast_weights`` is a ``pyspark.Broadcast`` of the model dict
    (A9: torrent-broadcast once per executor). If ``lineage_acc`` (a
    list accumulator) is given, the kernel emits one lineage record per
    task: (partition_id, input_file, rows_in, rows_out, turn_lo,
    turn_hi, wall_ms) — zero extra Spark jobs (SURVEY.md §2.A A11).
    """

    def kernel(batches):
        _drop_zip_importers()
        from pyspark import TaskContext
        weights = broadcast_weights.value
        t0 = time.perf_counter()
        rows = 0
        turn_lo, turn_hi = None, None
        files = set()
        for batch in batches:
            if input_file_col is not None:
                idx = batch.schema.get_field_index(input_file_col)
                col = batch.column(idx)
                if len(col):
                    files.add(col[0].as_py())
                batch = batch.drop_columns([input_file_col])
            out = extract_batch(batch, weights)
            rows += out.num_rows
            if out.num_rows and lineage_acc is not None:
                ti = out.column(1)
                lo = pa.compute.min(ti).as_py()
                hi = pa.compute.max(ti).as_py()
                turn_lo = lo if turn_lo is None else min(turn_lo, lo)
                turn_hi = hi if turn_hi is None else max(turn_hi, hi)
            yield out
        if lineage_acc is not None:
            tc = TaskContext.get()
            pid = tc.partitionId() if tc is not None else -1
            lineage_acc.add([(pid, ",".join(sorted(files)), rows, rows,
                              turn_lo if turn_lo is not None else -1,
                              turn_hi if turn_hi is not None else -1,
                              (time.perf_counter() - t0) * 1000.0)])

    return kernel
