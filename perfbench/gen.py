"""Seeded inputs and the independent expected-output rule.

Pure Python (numpy, pandas, pyarrow); imports nothing from the engine,
so the expected span sequences cannot inherit a kernel bug.

The expected spans follow the span-ification rule documented in
``handprint_spark/corpus.py``, re-stated here:

* a document's words are its text split on single spaces (form feeds
  count as spaces, empty words dropped), grouped into lines of
  ``WORDS_PER_LINE`` words;
* the slice hash is the big-endian 4-byte sha256 prefix of the string
  ``doc_id``; a document with ``hash % SKEW_MOD == 0`` repeats its
  line list ``SKEW_FACTOR`` times;
* line *i* gives a text span ``('text', line, '', 2i)`` and a media
  span with ref ``'<doc_id>/line-<i>'`` at offset ``2i+1``;
* the media of line *i* encodes the line text, so extraction turns the
  media span into ``('ocr', line, ref, 2i+1)``, except line 0 of a
  document with ``hash % CORRUPT_MOD == 0``, whose media is truncated
  and becomes ``('error', <message>, ref, 1)``. Padded media
  (``hash % PAD_MOD == 0``) still decodes.

Error spans are compared on kind, media_ref and offset only; the
message is the program's own wording.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass
from functools import lru_cache

import numpy as np

WORDS_PER_LINE = 6
SKEW_MOD = 211
SKEW_FACTOR = 25
CORRUPT_MOD = 101

# Zipf-Mandelbrot vocabulary: p(rank) ~ 1 / (rank + 2.7) ** ZIPF_S.
# 400k types with s = 0.9: 6,000 documents use about 10^5 distinct
# words, well past decoder.word_confidence's 65,536-entry cache.
VOCAB_TYPES = 400_000
ZIPF_S = 0.9
# Vocabulary of the heavy-tail workload: small enough that every word
# stays cached, like the 31-word testdata vocabulary.
SMALL_VOCAB_TYPES = 64

_SYLLABLES = [c + v for c in "bdfgklmnprstvz" for v in "aeiou"]
# Non-ASCII letters appended to every 23rd type. None is whitespace or
# a line boundary for str.splitlines, so the word stays one word.
_ACCENTS = ["é", "ø", "ß", "ж", "ł", "ñ", "ü", "ç", "å", "中"]

SPAN_SEP = "\x1e"
FIELD_SEP = "\x1f"


def slice_hash(doc_id: str) -> int:
    return int.from_bytes(hashlib.sha256(doc_id.encode()).digest()[:4], "big")


def word(rank: int) -> str:
    """Spelling of vocabulary type ``rank``: base-70 syllables, unique
    per rank (the last syllable is the most significant digit)."""
    out, x = [], rank
    while True:
        out.append(_SYLLABLES[x % len(_SYLLABLES)])
        x //= len(_SYLLABLES)
        if x == 0:
            break
    w = "".join(out)
    if rank % 23 == 0:
        w += _ACCENTS[(rank // 23) % len(_ACCENTS)]
    return w


@lru_cache(maxsize=2)
def vocabulary(n_types: int) -> tuple[str, ...]:
    return tuple(word(r) for r in range(n_types))


@lru_cache(maxsize=1)
def _zipf_cdf() -> np.ndarray:
    p = 1.0 / (np.arange(1, VOCAB_TYPES + 1) + 2.7) ** ZIPF_S
    cdf = np.cumsum(p)
    return cdf / cdf[-1]


@dataclass(frozen=True)
class Docs:
    """A generated ``documents(doc_id, text)`` table."""

    doc_ids: list
    texts: list

    def __len__(self) -> int:
        return len(self.doc_ids)

    def to_pandas(self):
        import pandas as pd

        return pd.DataFrame({"doc_id": self.doc_ids, "text": self.texts})


def _texts(rng: np.random.Generator, n_words: np.ndarray, zipf: bool) -> list:
    total = int(n_words.sum())
    if zipf:
        vocab = vocabulary(VOCAB_TYPES)
        ranks = np.searchsorted(_zipf_cdf(), rng.random(total), side="right")
        ranks = np.minimum(ranks, VOCAB_TYPES - 1)
    else:
        vocab = vocabulary(SMALL_VOCAB_TYPES)
        ranks = rng.integers(0, SMALL_VOCAB_TYPES, total)
    words = [vocab[r] for r in ranks.tolist()]
    bounds = np.concatenate([[0], np.cumsum(n_words)]).tolist()
    return [" ".join(words[a:b]) for a, b in zip(bounds[:-1], bounds[1:])]


def documents(prefix: str, seed: int, n_docs: int, zipf: bool, stream: int = 0) -> Docs:
    """``n_docs`` testdata-like documents: 10-99 words each (about ten
    media), ids ``<prefix><seed>-<i>``. ``stream`` selects an
    independent random stream for the same seed."""
    rng = np.random.default_rng([seed, stream])
    n_words = rng.integers(10, 100, n_docs)
    ids = [f"{prefix}{seed}-{i:07d}" for i in range(n_docs)]
    return Docs(ids, _texts(rng, n_words, zipf))


def heavy_documents(
    seed: int, n_docs: int, min_media: int, max_media: int
) -> Docs:
    """Heavy documents whose media counts form a fixed geometric ladder
    from min_media to max_media (the seed picks their words, not their
    sizes, so the slowest task is the same size on every seed). Small
    vocabulary. An id that falls in the corpus's x25 skew slice is
    replaced by the next free suffix, so the media count stays as given
    and no single row outgrows an Arrow batch."""
    rng = np.random.default_rng([seed, 99])
    steps = np.arange(n_docs) / max(1, n_docs - 1)
    media = np.rint(min_media * (max_media / min_media) ** steps).astype(np.int64)
    ids, j = [], 0
    while len(ids) < n_docs:
        doc_id = f"h{seed}-{j:05d}"
        j += 1
        if slice_hash(doc_id) % SKEW_MOD != 0:
            ids.append(doc_id)
    return Docs(ids, _texts(rng, media * WORDS_PER_LINE, zipf=False))


def split_lines(text: str) -> list:
    words = [w for w in text.replace("\f", " ").split(" ") if w]
    return [
        " ".join(words[i : i + WORDS_PER_LINE])
        for i in range(0, len(words), WORDS_PER_LINE)
    ]


def expected_spans(doc_id: str, text: str) -> list:
    """[(kind, text, media_ref, offset)] the extraction must emit."""
    h = slice_hash(doc_id)
    lines = split_lines(text)
    if h % SKEW_MOD == 0:
        lines = lines * SKEW_FACTOR
    corrupt = h % CORRUPT_MOD == 0
    out = []
    for i, line in enumerate(lines):
        ref = f"{doc_id}/line-{i}"
        out.append(("text", line, "", 2 * i))
        if corrupt and i == 0:
            out.append(("error", "", ref, 2 * i + 1))
        else:
            out.append(("ocr", line, ref, 2 * i + 1))
    return out


def digest(spans) -> str:
    """sha256 over the canonical span sequence; error text blanked.
    ``spans`` is a sequence of (kind, text, media_ref, offset)."""
    canon = SPAN_SEP.join(
        FIELD_SEP.join((k, "" if k == "error" else t, r, str(o))) for k, t, r, o in spans
    )
    return hashlib.sha256(canon.encode("utf-8")).hexdigest()


def expected_digests(docs: Docs) -> dict:
    return {d: digest(expected_spans(d, t)) for d, t in zip(docs.doc_ids, docs.texts)}


def count_failed(expected: dict, got) -> int:
    """Documents of ``expected`` whose digest in ``got`` (an iterable of
    (doc_id, digest)) is wrong, missing or duplicated, plus unexpected
    documents."""
    seen: dict = {}
    extra = 0
    for doc_id, dig in got:
        if doc_id not in expected:
            extra += 1
        elif doc_id in seen:
            seen[doc_id] = None  # emitted twice
        else:
            seen[doc_id] = dig
    failed = sum(1 for d, want in expected.items() if seen.get(d) != want)
    return failed + extra
