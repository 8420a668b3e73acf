"""X9 — deterministic local HTR decoder.

Replaces the reference's four network calls (amazon.py:100-106,
google.py:123-133, microsoft.py:151-201) with a pure function of the
media bytes: same bytes -> same (text, boxes, scores) on every
executor at any parallelism — the property span-sequence equality and
checkpoint resume both depend on (SURVEY.md §2.9 X9).

Geometry model (fixed, documented so oracles can re-derive it):
  * character cell: 8 px wide, 16 px tall;
  * line *i* occupies y in [4 + 20*i, 20 + 20*i);
  * a line's words are laid out left->right starting at x=4 with one
    8 px space between words;
  * box bb = [x0 y0 x1 y0 x1 y1 x0 y1] (flat 8-int corner list starting
    upper-left — the reference Box.bb convention, base.py:37-43).

Confidence: conf(word) = 0.5 + (sha256(word)[:8] % 500) / 1000, rounded
to 3 digits — deterministic, spread over [0.5, 0.999]. A line's score
is the min of its word scores (1.0 for an empty line); the page "para"
box carries the min of line scores.
"""

from __future__ import annotations

import hashlib
from functools import lru_cache
from typing import NamedTuple, Optional

from . import codec

CHAR_W = 8
CHAR_H = 16
LINE_PITCH = 20
MARGIN = 4


class Box(NamedTuple):
    """Unified box record (reference services/base.py:37-43)."""

    kind: str  # 'word' | 'line' | 'para'
    bb: list  # flat [x y x y x y x y], upper-left first
    text: str
    score: float


class TRResult(NamedTuple):
    """Unified extraction record (reference services/base.py:28-35)."""

    text: str
    boxes: list
    error: Optional[str]


@lru_cache(maxsize=65536)
def word_confidence(word: str) -> float:
    """Memoized per executor: natural-language vocabulary is Zipfian,
    so the common-word hit rate stays high at any corpus size; the
    cache is per-process and pure, so parallelism never changes
    results."""
    h = int.from_bytes(hashlib.sha256(word.encode("utf-8")).digest()[:8], "big")
    return round(0.5 + (h % 500) / 1000.0, 3)


def _rect(x0: int, y0: int, x1: int, y1: int) -> list:
    return [x0, y0, x1, y0, x1, y1, x0, y1]


def layout_line(line: str, line_index: int) -> list[tuple[str, list, float]]:
    """Word layout for one text line -> [(word, bb, score)]."""
    y0 = MARGIN + line_index * LINE_PITCH
    y1 = y0 + CHAR_H
    x = MARGIN
    out = []
    for word in line.split():
        w = len(word) * CHAR_W
        out.append((word, _rect(x, y0, x + w, y1), word_confidence(word)))
        x += w + CHAR_W
    return out


def decode_page(text: str) -> TRResult:
    """Decode a page text into the unified TRResult shape."""
    lines = text.splitlines()
    boxes: list[Box] = []
    line_scores = []
    for i, line in enumerate(lines):
        words = layout_line(line, i)
        y0 = MARGIN + i * LINE_PITCH
        x1 = max((bb[2] for _, bb, _ in words), default=MARGIN)
        score = round(min((s for _, _, s in words), default=1.0), 3)
        line_scores.append(score)
        boxes.append(Box("line", _rect(MARGIN, y0, x1, y0 + CHAR_H), line, score))
        for word, bb, s in words:
            boxes.append(Box("word", bb, word, s))
    if lines:
        page_score = round(min(line_scores), 3)
        x1 = max((b.bb[2] for b in boxes), default=MARGIN)
        y1 = MARGIN + (len(lines) - 1) * LINE_PITCH + CHAR_H
        boxes.insert(0, Box("para", _rect(MARGIN, MARGIN, x1, y1), "", page_score))
    return TRResult(page_text(text), boxes, None)


def page_text(text: str) -> str:
    """The text projection of ``decode_page``: its ``TRResult.text``
    without building a box."""
    return "\n".join(text.splitlines())


def decode_media_bytes(data: bytes) -> TRResult:
    """media bytes -> TRResult; corrupt media becomes an error value
    (row-level error policy), never an exception."""
    try:
        info = codec.decode_media(data)
    except codec.MediaError as exc:
        return TRResult("", [], str(exc))
    return decode_page(info.text)
