"""The single-node golden extractor — the byte-for-byte equality oracle.

This module plays the role the reference repo itself plays for the graft
(BASELINE.json north_star: "projection-profile character segmentation,
per-glyph CNN classification, greedy decode to text"): a pure,
single-process implementation whose output the distributed Spark
pipeline must reproduce byte-for-byte under ``python -m pytest -x -q``
(per-turn text equality under stable turn ordering — BASELINE.json
north_rule). Zero Spark imports; stdlib ``html.parser`` + numpy only
(no bs4/lxml/cv2/tensorflow — from scratch, NOT a port).

Pipeline stages (SURVEY.md §2.A), mirroring the reference loop:

  A2 normalize payload   detect_payload_kind + canonicalize
  A3 block segmentation  html → DOM-lite blocks (text/link density);
                         pdf-dump → layout blocks re-ordered by (page,y,x);
                         plain/markdown → paragraphs + code fences
  A4 span segmentation   CJK per-char, latin per-word, digit/punct runs
  A5 canonicalization    NFC, control/surrogate strip, width-fold
                         full-width alnum, whitespace collapse
  A6 classify kernel     batched linear scorer (chartables.score_blocks)
  A7 greedy stitch       keep score ≥ τ, join in document order

Every byte-level decision is FROZEN here (SURVEY.md §7-M1): NFC, '\\n'
separator, τ=0.0, fold-alnum-keep-CJK-punct, per-char CJK spans.
"""

from __future__ import annotations

import re
import unicodedata
from dataclasses import dataclass
from html import unescape as _unescape

import numpy as np

from . import chartables as ct

PAYLOAD_HTML = "html"
PAYLOAD_PDF = "pdf"
PAYLOAD_PLAIN = "plain"

SPAN_KINDS = ("cjk", "latin", "num", "punct", "code", "block")
_KIND_CODE = {k: i for i, k in enumerate(SPAN_KINDS)}
_BASE_BY_CODE = np.array([ct.SPAN_BASE[k] for k in SPAN_KINDS], dtype=np.float64)

_HTML_SIG = re.compile(
    r"<\s*(?:!doctype|html|head|body|div|p|a|span|h[1-6]|article|section|"
    r"nav|header|footer|ul|ol|li|table|br|script|style)\b", re.IGNORECASE)
_PDF_LINE = re.compile(r"^(\d+),(\d+(?:\.\d+)?),(\d+(?:\.\d+)?),(\w+)\t(.*)$")
_CODE_FENCE = re.compile(r"^```")
_BLANK_LINE = re.compile(r"\n[ \t]*\n")

# tags whose entire subtree is boilerplate (dropped before scoring)
_SKIP_TAGS = frozenset({"script", "style", "nav", "header", "footer", "aside",
                        "noscript", "form", "iframe", "svg", "head", "button",
                        "select", "option", "template", "title"})
# tags that open/close a block boundary
_BLOCK_TAGS = frozenset({"p", "div", "article", "section", "main", "li",
                         "h1", "h2", "h3", "h4", "h5", "h6", "td", "th", "tr",
                         "blockquote", "pre", "ul", "ol", "table", "body",
                         "html", "figure", "figcaption", "dd", "dt"})
_VOID_BREAKS = frozenset({"br", "hr"})

_NONSPACE = re.compile(r"\S")
_WS = re.compile(r"\s+")


def canonicalize(text: str, is_code: bool = False) -> str:
    """A5: NFC, strip controls/surrogates, fold full-width alnum, collapse ws.

    Code blocks keep internal newlines/indentation; only line endings are
    normalized and outer blank lines trimmed. Frozen rule set (§7-M1).
    """
    if not text:
        return ""
    # surrogates break NFC; strip via translate first
    text = text.translate(ct._CANON_TABLE)
    if not text.isascii():
        # ASCII is NFC-closed: normalize() is the identity there, and
        # isascii() is a single C scan — skip the normalizer quickcheck
        text = unicodedata.normalize("NFC", text)
    if is_code:
        text = text.replace("\r\n", "\n").replace("\r", "\n")
        return text.strip("\n")
    return ct._WS_RUN.sub(" ", text).strip()


def detect_payload_kind(text: str) -> str:
    """A2: cheap signature sniff on the payload head. Frozen rule."""
    if not text:
        return PAYLOAD_PLAIN
    head = text[:4096].lstrip()
    if _HTML_SIG.search(head[:512]):
        return PAYLOAD_HTML
    first_line = head.split("\n", 1)[0]
    if _PDF_LINE.match(first_line):
        return PAYLOAD_PDF
    return PAYLOAD_PLAIN


@dataclass
class Block:
    text: str            # canonicalized
    link_density: float  # link chars / non-space chars, pre-canonical
    is_code: bool


# single-pass tag tokenizer: matches comments/doctypes/PIs and start/end
# tags (attribute values may contain '>'); text runs live between matches.
# Replaces stdlib html.parser in the hot loop (it was 65% of per-turn
# cost, measured by cProfile) with identical block semantics.
_TAG_RE = re.compile(
    r"<!--.*?(?:-->|$)"                       # comments (unterminated → EOF)
    r"|<!\[CDATA\[.*?(?:\]\]>|$)"             # CDATA
    r"|<![^>]*>|<\?[^>]*>"                    # doctype / PI
    r"|<(/?)([a-zA-Z][a-zA-Z0-9:-]*)"         # tag open: / and name
    r"((?:[^>\"']|\"[^\"]*\"|'[^']*')*)(/?)>",  # attrs (quoted '>' ok), self-close
    re.DOTALL)

#: raw-text elements: content runs to the matching end tag, regardless of '<'
_RAWTEXT_END = {tag: re.compile(f"</{tag}\\b[^>]*>", re.IGNORECASE)
                for tag in ("script", "style", "textarea", "title")}


class _BlockCollector:
    """Flat block list with link-char counts — the graft analog of the
    horizontal projection profile (A3): blocks accumulate text mass and
    link mass; the density features drive the classify kernel."""

    __slots__ = ("blocks", "_chunks", "_link_chunks", "_skip", "_a", "_pre")

    def __init__(self) -> None:
        self.blocks: list[Block] = []
        self._chunks: list[str] = []
        self._link_chunks: list[str] = []
        self._skip = 0
        self._a = 0
        self._pre = 0

    def data(self, raw: str) -> None:
        if self._skip or not raw:
            return
        if "&" in raw:
            raw = _unescape(raw)
        self._chunks.append(raw)
        if self._a:
            self._link_chunks.append(raw)

    def start(self, tag: str) -> None:
        if tag in _SKIP_TAGS:
            self._skip += 1
            return
        if self._skip:
            return
        if tag == "a":
            self._a += 1
        if tag in _VOID_BREAKS:
            self.flush()
        elif tag in _BLOCK_TAGS:
            self.flush()
            if tag == "pre":
                self._pre += 1

    def end(self, tag: str) -> None:
        if tag in _SKIP_TAGS:
            if self._skip:
                self._skip -= 1
            return
        if self._skip:
            return
        if tag == "a" and self._a:
            self._a -= 1
        elif tag in _BLOCK_TAGS:
            self.flush()
            if tag == "pre" and self._pre:
                self._pre -= 1

    def flush(self) -> None:
        if not self._chunks:
            return
        raw = "".join(self._chunks)
        link_raw = "".join(self._link_chunks)
        self._chunks.clear()
        self._link_chunks.clear()
        is_code = self._pre > 0
        canon = canonicalize(raw, is_code=is_code)
        if not canon:
            return
        # |\S| = len(\s-stripped): one C-level sub pass, ~2x faster
        # than a findall list with one str object per non-space char
        n = len(_WS.sub("", raw))
        nl = len(_WS.sub("", link_raw)) if link_raw else 0
        self.blocks.append(Block(canon, nl / n if n else 0.0, is_code))


def segment_html(text: str) -> list[Block]:
    c = _BlockCollector()
    pos = 0
    n = len(text)
    while pos < n:
        m = _TAG_RE.search(text, pos)
        if m is None:
            c.data(text[pos:])
            break
        if m.start() > pos:
            c.data(text[pos:m.start()])
        pos = m.end()
        name = m.group(2)
        if name is None:
            continue  # comment / doctype / CDATA / PI
        tag = name.lower()
        if m.group(1):            # </tag>
            c.end(tag)
        else:                     # <tag ...> or <tag/>
            if m.group(4):        # self-closing
                if tag in _VOID_BREAKS or tag in _BLOCK_TAGS:
                    if not c._skip:
                        c.flush()
                continue
            c.start(tag)
            if tag in _RAWTEXT_END:
                # raw-text content: skip straight to the matching end tag
                em = _RAWTEXT_END[tag].search(text, pos)
                if em is None:
                    pos = n
                    c.end(tag)
                else:
                    pos = em.end()
                    c.end(tag)
    c.flush()
    return c.blocks


def segment_pdf(text: str) -> list[Block]:
    """A3 pdf path: parse `page,y,x,block_id\\ttext` lines, re-order by
    (page, y, x) — the layout analog of reading-order line cuts. Lines
    not matching the record shape are skipped (frozen rule)."""
    recs = []
    for i, line in enumerate(text.split("\n")):
        m = _PDF_LINE.match(line)
        if not m:
            continue
        page, y, x = int(m.group(1)), float(m.group(2)), float(m.group(3))
        recs.append((page, y, x, i, m.group(5)))
    recs.sort(key=lambda r: (r[0], r[1], r[2], r[3]))
    blocks = []
    for *_ignored, t in recs:
        canon = canonicalize(t)
        if canon:
            blocks.append(Block(canon, 0.0, False))
    return blocks


def segment_plain(text: str) -> list[Block]:
    """A3 plain/markdown path: code fences verbatim, paragraphs on blank
    lines. Frozen rule: fence markers themselves are dropped; an
    unterminated fence runs to end of payload."""
    text = text.replace("\r\n", "\n").replace("\r", "\n")
    blocks: list[Block] = []
    parts = text.split("```")
    for i, part in enumerate(parts):
        in_code = (i % 2 == 1)
        if in_code:
            # drop an info-string on the first line (```python)
            if "\n" in part:
                first, rest = part.split("\n", 1)
                body = rest if first.strip() else part
            else:
                body = part
            canon = canonicalize(body, is_code=True)
            if canon:
                blocks.append(Block(canon, 0.0, True))
        else:
            for para in _BLANK_LINE.split(part):
                canon = canonicalize(para)
                if canon:
                    blocks.append(Block(canon, 0.0, False))
    return blocks


def _score_and_keep(blocks: list[Block], weights: dict,
                    role: str | None = None) -> list[Block]:
    """A6+A7: batched linear classify, threshold at τ, keep document order.

    The whole block batch is featurized in single numpy passes — one
    codepoint-class lookup over the concatenated text serves every
    block's cjk_ratio (reduceat over block offsets)."""
    if not blocks:
        return []
    lengths = np.fromiter((len(b.text) for b in blocks), dtype=np.int64,
                          count=len(blocks))
    ld = np.fromiter((b.link_density for b in blocks), dtype=np.float64,
                     count=len(blocks))
    code = np.fromiter((b.is_code for b in blocks), dtype=np.float64,
                       count=len(blocks))
    # one class-table pass over all block text; per-block CJK counts via
    # reduceat on the block offsets
    joined = "".join(b.text for b in blocks)
    is_cjk = (ct.char_classes(joined) == ct.CLS_CJK).astype(np.int64)
    offsets = np.zeros(len(blocks), dtype=np.int64)
    np.cumsum(lengths[:-1], out=offsets[1:])
    counts = np.add.reduceat(is_cjk, offsets) if len(is_cjk) else offsets
    cjk = counts / np.maximum(lengths, 1)
    scores = ct.score_blocks(lengths.astype(np.float64), ld, code, cjk,
                             weights["block_weights"])
    # A6 role prior: a constant per-turn shift of every block score
    scores = scores + weights.get("role_prior", {}).get(role, 0.0)
    tau = weights["tau"]
    return [b for b, s in zip(blocks, scores) if s >= tau]


def segment_spans(text: str, code_ranges: list[tuple[int, int]]):
    """A4: span segmentation of the stitched text.

    The vertical-projection analog: a vectorized codepoint→class lookup
    (np.take) finds run boundaries; CJK chars are one span each (the
    per-glyph unit of the reference), latin/digit/punct are maximal
    runs, code regions are one span. Returns parallel arrays
    (starts, ends, kind_codes) as int64 numpy arrays.
    """
    n = len(text)
    if n == 0:
        return (np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0, np.int64))
    cls = ct.char_classes(text).astype(np.int64)
    # mask out code regions (handled as whole spans below)
    in_code = np.zeros(n, dtype=bool)
    for s, e in code_ranges:
        in_code[s:e] = True

    kind = np.empty(n, dtype=np.int64)
    kind[cls == ct.CLS_CJK] = _KIND_CODE["cjk"]
    kind[cls == ct.CLS_LATIN] = _KIND_CODE["latin"]
    kind[cls == ct.CLS_DIGIT] = _KIND_CODE["num"]
    kind[(cls == ct.CLS_PUNCT) | (cls == ct.CLS_OTHER)] = _KIND_CODE["punct"]
    is_space = cls == ct.CLS_SPACE
    kind[is_space] = -1
    kind[in_code] = -2  # sentinel: excluded from run segmentation

    is_cjk = kind == _KIND_CODE["cjk"]
    member = kind >= 0
    prev_kind = np.empty(n, dtype=np.int64)
    prev_kind[0] = -99
    prev_kind[1:] = kind[:-1]
    prev_cjk = np.empty(n, dtype=bool)
    prev_cjk[0] = False
    prev_cjk[1:] = is_cjk[:-1]
    starts_mask = member & ((kind != prev_kind) | is_cjk | prev_cjk)
    # a run ends where the next position starts a new run or leaves membership
    next_break = np.empty(n, dtype=bool)
    next_break[-1] = True
    next_break[:-1] = starts_mask[1:] | ~member[1:]
    starts = np.flatnonzero(starts_mask)
    ends = np.flatnonzero(member & next_break) + 1
    kcodes = kind[starts]

    if code_ranges:
        cs = np.array([s for s, _ in code_ranges], dtype=np.int64)
        ce = np.array([e for _, e in code_ranges], dtype=np.int64)
        ck = np.full(len(cs), _KIND_CODE["code"], dtype=np.int64)
        starts = np.concatenate([starts, cs])
        ends = np.concatenate([ends, ce])
        kcodes = np.concatenate([kcodes, ck])
        order = np.argsort(starts, kind="stable")
        starts, ends, kcodes = starts[order], ends[order], kcodes[order]
    return starts, ends, kcodes


@dataclass
class ExtractResult:
    extracted_text: str
    spans: list  # list[(start:int, end:int, kind:str, score:float)]
    payload_kind: str

    @property
    def n_spans(self) -> int:
        return len(self.spans)


_EMPTY_I64 = np.empty(0, dtype=np.int64)
_EMPTY_F64 = np.empty(0, dtype=np.float64)


def extract_turn_arrays(text: str | None, weights: dict,
                        role: str | None = None):
    """The full A2→A7 loop, flat-array form (the kernel-facing API).

    Returns ``(extracted_text, starts, ends, kind_codes, scores,
    payload_kind)`` with numpy arrays, so the Arrow kernel can build
    list<struct> span columns without per-span Python objects. ``role``
    feeds the A6 role prior (tool/system turns need more evidence).
    """
    if text is None or text == "":
        return "", _EMPTY_I64, _EMPTY_I64, _EMPTY_I64, _EMPTY_F64, PAYLOAD_PLAIN
    kind = detect_payload_kind(text)
    if kind == PAYLOAD_HTML:
        blocks = segment_html(text)
    elif kind == PAYLOAD_PDF:
        blocks = segment_pdf(text)
    else:
        blocks = segment_plain(text)
    kept = _score_and_keep(blocks, weights, role)

    # A7 greedy stitch: '\n' separator, document order (frozen)
    pieces, code_ranges = [], []
    pos = 0
    for b in kept:
        if pieces:
            pos += 1  # separator
        if b.is_code:
            code_ranges.append((pos, pos + len(b.text)))
        pieces.append(b.text)
        pos += len(b.text)
    extracted = "\n".join(pieces)

    starts, ends, kcodes = segment_spans(extracted, code_ranges)
    lengths = (ends - starts).astype(np.float64)
    scores = ct.score_spans(kcodes, lengths, _BASE_BY_CODE)
    return extracted, starts, ends, kcodes, scores, kind


def extract_turn(text: str | None, weights: dict | None = None,
                 role: str | None = None) -> ExtractResult:
    """The golden per-turn function (object form used by tests/oracle)."""
    weights = weights or ct.default_weights()
    extracted, starts, ends, kcodes, scores, kind = extract_turn_arrays(
        text, weights, role)
    spans = [(int(s), int(e), SPAN_KINDS[k], float(sc))
             for s, e, k, sc in zip(starts, ends, kcodes, scores)]
    return ExtractResult(extracted, spans, kind)

