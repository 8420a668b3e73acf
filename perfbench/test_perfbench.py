"""Checks of the benchmark's own input generator and output check.

    python3 -m pytest perfbench -q

No Spark session: the program's output is produced by its pure
per-document path (corpus.build_doc, then extract_one), which is what
the Spark plan runs inside each Python worker.
"""

import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(HERE.parent))

import gen  # noqa: E402
from run import growth, tail  # noqa: E402


def _program_output(docs: gen.Docs) -> dict:
    from handprint_spark import corpus
    from handprint_spark.operators.extract import extract_one

    out = {}
    for doc_id, text in zip(docs.doc_ids, docs.texts):
        _, spans, media = corpus.build_doc(doc_id, text)
        _, got, _, _ = extract_one(doc_id, spans, media, None, None, None)
        out[doc_id] = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in got]
    return out


def _sample() -> gen.Docs:
    """Documents covering the corrupt and x25 slices and non-ASCII words."""
    docs = gen.documents("u", 3, 400, zipf=True)
    hashes = [gen.slice_hash(d) for d in docs.doc_ids]
    assert any(h % gen.CORRUPT_MOD == 0 for h in hashes)
    assert any(h % gen.SKEW_MOD == 0 for h in hashes)
    assert any(not t.isascii() for t in docs.texts)
    return docs


def _failed(expected: dict, outputs: dict) -> int:
    return gen.count_failed(expected, [(d, gen.digest(s)) for d, s in outputs.items()])


def test_same_seed_regenerates_identical_input():
    assert gen.documents("u", 5, 300, zipf=True) == gen.documents("u", 5, 300, zipf=True)
    assert gen.heavy_documents(5, 3, 1000, 2000) == gen.heavy_documents(5, 3, 1000, 2000)
    other = gen.documents("u", 6, 300, zipf=True)
    assert other.texts != gen.documents("u", 5, 300, zipf=True).texts
    assert not set(other.doc_ids) & set(gen.documents("u", 5, 300, zipf=True).doc_ids)


def test_heavy_documents_avoid_the_skew_slice():
    heavy = gen.heavy_documents(11, 50, 1000, 2000)
    for doc_id, text in zip(heavy.doc_ids, heavy.texts):
        assert gen.slice_hash(doc_id) % gen.SKEW_MOD != 0
        assert 1000 <= len(gen.split_lines(text)) <= 2000


def test_zipf_vocabulary_overflows_the_decoder_cache():
    words = set(" ".join(gen.documents("u", 1, 6000, zipf=True).texts).split(" "))
    assert len(words) > 65_536


def test_program_output_passes_the_check():
    docs = _sample()
    assert _failed(gen.expected_digests(docs), _program_output(docs)) == 0


def test_planted_one_span_mutation_is_caught():
    docs = _sample()
    expected = gen.expected_digests(docs)
    outputs = _program_output(docs)
    doc_id = docs.doc_ids[0]
    spans = outputs[doc_id]
    i = next(j for j, s in enumerate(spans) if s[0] == "ocr")
    kind, text, ref, offset = spans[i]
    mutations = [
        (kind, text + "x", ref, offset),
        ("text", text, ref, offset),
        (kind, text, ref + "0", offset),
        (kind, text, ref, offset + 2),
    ]
    for mutated in mutations:
        planted = dict(outputs)
        planted[doc_id] = spans[:i] + [mutated] + spans[i + 1 :]
        assert _failed(expected, planted) == 1, mutated
    dropped = dict(outputs)
    dropped[doc_id] = spans[:i] + spans[i + 1 :]
    assert _failed(expected, dropped) == 1


def test_error_spans_compare_on_kind_ref_and_offset_only():
    docs = _sample()
    expected = gen.expected_digests(docs)
    outputs = _program_output(docs)
    doc_id = next(d for d, s in outputs.items() if any(x[0] == "error" for x in s))
    spans = outputs[doc_id]
    i = next(j for j, s in enumerate(spans) if s[0] == "error")
    _, _, ref, offset = spans[i]
    reworded = dict(outputs)
    reworded[doc_id] = spans[:i] + [("error", "other wording", ref, offset)] + spans[i + 1 :]
    assert _failed(expected, reworded) == 0
    moved = dict(outputs)
    moved[doc_id] = spans[:i] + [("error", "", ref, offset + 2)] + spans[i + 1 :]
    assert _failed(expected, moved) == 1


def test_missing_duplicate_and_extra_documents_count_as_failed():
    docs = _sample()
    expected = gen.expected_digests(docs)
    rows = [(d, gen.digest(s)) for d, s in _program_output(docs).items()]
    assert gen.count_failed(expected, rows[1:]) == 1
    assert gen.count_failed(expected, rows + rows[:1]) == 1
    assert gen.count_failed(expected, rows + [("stray", "0")]) == 1


def test_tail_leaves_ten_samples_above():
    values = list(range(1, 31))
    value, pct = tail(values)
    assert pct == 66 and value == 20
    assert sum(v > value for v in values) == 10
    assert tail(list(range(1, 8)))[1] == 50


def test_growth_skips_the_warm_up_sample():
    assert growth([100.0] + [1.0] * 8 + [2.0] * 3) == 2.0
