"""Codepoint class tables and the linear classify kernel.

This module is the graft analog of the reference's projection-profile +
CNN stages (BASELINE.json north_star): the reference reduces a binary
image to 1-D row/column profiles and classifies fixed-size glyph batches
with a CNN whose weights are loaded once per process. Here the "image"
is a unicode payload, the "profile" is a vectorized codepoint→class
lookup (``np.take`` over a 0x110000-entry table), and the "CNN" is a
small linear model (a weighted feature sum) applied to whole batches
at once. Both the tables and the weights are broadcast once per
executor by pipeline.py (SURVEY.md §2.A A6/A9).

Everything here is pure + deterministic, and a row's result does not
depend on how many rows share the call. The single-node reference
extractor (reference.py) calls these functions once per turn; the Arrow
kernel (kernel.py) calls them once per record batch. That batch path is
checked against the per-turn reference for the byte-for-byte equality
contract (BASELINE.json north_rule) by the end-to-end and property tests.
"""

from __future__ import annotations

import re

import numpy as np

# --- char classes ----------------------------------------------------------

CLS_OTHER = 0
CLS_SPACE = 1
CLS_LATIN = 2
CLS_DIGIT = 3
CLS_PUNCT = 4
CLS_CJK = 5

#: span kind emitted for each class (OTHER merges into punct runs)
KIND_OF_CLASS = {CLS_OTHER: "punct", CLS_LATIN: "latin", CLS_DIGIT: "num",
                 CLS_PUNCT: "punct", CLS_CJK: "cjk"}

_SPACE_RANGES = [(0x09, 0x0D), (0x20, 0x20), (0x85, 0x85), (0xA0, 0xA0),
                 (0x1680, 0x1680), (0x2000, 0x200A), (0x2028, 0x2029),
                 (0x202F, 0x202F), (0x205F, 0x205F), (0x3000, 0x3000)]
_LATIN_RANGES = [(0x41, 0x5A), (0x61, 0x7A), (0xC0, 0xD6), (0xD8, 0xF6),
                 (0xF8, 0x2AF), (0x370, 0x3FF), (0x400, 0x4FF)]
_DIGIT_RANGES = [(0x30, 0x39)]
_PUNCT_RANGES = [(0x21, 0x2F), (0x3A, 0x40), (0x5B, 0x60), (0x7B, 0x7E),
                 (0xD7, 0xD7), (0xF7, 0xF7),
                 (0x2010, 0x2027), (0x2030, 0x205E), (0x3001, 0x303F),
                 (0xFE30, 0xFE4F), (0xFF01, 0xFF0F), (0xFF1A, 0xFF20),
                 (0xFF3B, 0xFF40), (0xFF5B, 0xFF65)]
_CJK_RANGES = [(0x3040, 0x30FF), (0x3105, 0x312F), (0x31A0, 0x31BF),
               (0x3400, 0x4DBF), (0x4E00, 0x9FFF), (0xAC00, 0xD7A3),
               (0xF900, 0xFAFF), (0x20000, 0x2FA1F)]


def _build_class_table() -> np.ndarray:
    t = np.zeros(0x110000, dtype=np.uint8)
    for ranges, cls in [(_PUNCT_RANGES, CLS_PUNCT), (_LATIN_RANGES, CLS_LATIN),
                        (_DIGIT_RANGES, CLS_DIGIT), (_CJK_RANGES, CLS_CJK),
                        (_SPACE_RANGES, CLS_SPACE)]:
        for lo, hi in ranges:
            t[lo:hi + 1] = cls
    return t


#: codepoint → class, the 1-D "projection profile" lookup (built once per process)
CHAR_CLASS: np.ndarray = _build_class_table()


def codepoints(text: str) -> np.ndarray:
    """Vectorized str → uint32 codepoint array (UTF-32 indices == str indices)."""
    if not text:
        return np.empty(0, dtype=np.uint32)
    return np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32)


def char_classes(text: str) -> np.ndarray:
    cps = codepoints(text)
    return CHAR_CLASS.take(cps)


# --- canonicalization tables (A5: glyph normalize → span canonicalize) ------

# full-width alphanumerics fold to ASCII; full-width *punctuation* is kept
# (frozen rule — CJK punctuation like ，。「」 stays, per FIXTURES.md §1.1)
_FOLD = {0xFF10 + i: 0x30 + i for i in range(10)}
_FOLD.update({0xFF21 + i: 0x41 + i for i in range(26)})
_FOLD.update({0xFF41 + i: 0x61 + i for i in range(26)})

# C0/C1 controls (except \t \n \r), DEL, lone surrogates → removed
_STRIP = {c: None for c in range(0x00, 0x20) if c not in (0x09, 0x0A, 0x0D)}
_STRIP[0x7F] = None
_STRIP.update({c: None for c in range(0x80, 0xA0)})
_STRIP.update({c: None for c in range(0xD800, 0xE000)})

_CANON_TABLE = {**_STRIP, **_FOLD}

_WS_RUN = re.compile(r"[\s\u0085\u00a0\u1680\u2000-\u200a\u2028\u2029\u202f\u205f\u3000]+")


# --- classify kernel (A6): content-vs-boilerplate block scorer --------------

#: frozen block-model weights: [bias, min(len,100)/100, link_density, is_code, cjk_ratio]
BLOCK_WEIGHTS = np.array([-0.25, 5.0, -6.0, 3.0, 1.0], dtype=np.float64)
#: keep threshold τ for the greedy stitch (A7)
TAU = 0.0

#: frozen span-model: score = SPAN_BASE[kind] + min(len,20)/20
SPAN_BASE = {"cjk": 0.9, "latin": 0.7, "num": 0.6, "punct": 0.2,
             "code": 0.95, "block": 0.5}


#: frozen role prior (A6 feature "role prior"): added to every block
#: score of a turn. Tool dumps and system boilerplate need more evidence
#: to be kept; user/assistant prose is neutral.
ROLE_PRIOR = {"user": 0.0, "assistant": 0.0, "tool": -0.15, "system": -0.3}


def default_weights() -> dict:
    """The broadcastable model state (A9): weights + thresholds + span bases.

    pipeline.py broadcasts this dict once per executor, mirroring the
    reference's load-model-once-per-process behavior.
    """
    return {"block_weights": BLOCK_WEIGHTS, "tau": TAU,
            "span_base": dict(SPAN_BASE), "role_prior": dict(ROLE_PRIOR)}


def score_blocks(lengths: np.ndarray, link_density: np.ndarray,
                 is_code: np.ndarray, cjk_ratio: np.ndarray,
                 weights: np.ndarray = BLOCK_WEIGHTS) -> np.ndarray:
    """Batched linear classify: one vectorized pass over the whole block batch.

    The analog of ``model.predict(batch)`` in the reference. The weighted
    features are summed elementwise in one fixed order rather than by a
    BLAS matvec, whose summation order (and so the last bit of a score)
    changes with the number of rows. A row therefore scores the same
    whether the reference scores it with its turn or the kernel with its
    whole Arrow batch, and both take the same keep decision at τ.
    """
    w = weights
    return (w[0] + w[1] * (np.minimum(lengths, 100) / 100.0)
            + w[2] * link_density + w[3] * is_code + w[4] * cjk_ratio)


def score_spans(kind_codes: np.ndarray, lengths: np.ndarray,
                base_by_code: np.ndarray) -> np.ndarray:
    """Batched span scorer: base[kind] + min(len,20)/20, fully vectorized."""
    return base_by_code.take(kind_codes) + np.minimum(lengths, 20) / 20.0


def cjk_ratio(text: str) -> float:
    if not text:
        return 0.0
    cls = char_classes(text)
    return float(np.count_nonzero(cls == CLS_CJK)) / len(cls)
