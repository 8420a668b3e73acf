"""Multimodal column plumbing: media feature extraction and
video-style frame sampling over multi-page HPM1 objects."""

import pytest
from pyspark.sql import types as T

from handprint_spark.corpus import MEDIA_TYPE, SPAN_TYPE, load_documents_spans
from handprint_spark.kernels import codec
from handprint_spark.operators.multimodal import frame_sample, media_features

SPANS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("spans", SPAN_TYPE),
        T.StructField("media", MEDIA_TYPE),
    ]
)


def _df_with_media(spark, items):
    rows = [
        (doc_id, [], [{"media_ref": ref, "content": content}])
        for doc_id, ref, content in items
    ]
    return spark.createDataFrame(rows, SPANS_SCHEMA)


def test_media_features_corpus(spark, sf_tiny):
    feats = media_features(load_documents_spans(spark, sf_tiny).limit(25)).collect()
    assert feats
    ok = [r for r in feats if r.error is None]
    assert ok
    for r in ok[:10]:
        assert r.height == 24 and 64 <= r.width <= 320 and r.n_pages == 1
        assert r.byte_size > 0 and r.mean_pixel is not None


def test_frame_sample_multipage_every_second(spark):
    """A 5-page object sampled every 2nd page yields frames 0, 2, 4,
    each a standalone single-page object carrying that page's text."""
    pages = [f"page {i} words here" for i in range(5)]
    multi = codec.encode_media("", fmt="tiff", width=96, height=32, pages=pages)
    single = codec.encode_media("solo page", width=64, height=24)
    df = _df_with_media(
        spark, [("d1", "d1/vid-0", multi), ("d2", "d2/img-0", single)]
    )
    out = frame_sample(df, every_n=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)

    frames = sorted(by_doc["d1"], key=lambda r: r.frame_index)
    assert [f.frame_index for f in frames] == [0, 2, 4]
    for f in frames:
        info = codec.decode_media(bytes(f.frame))
        assert info.npages == 1
        assert info.text == pages[f.frame_index]
        assert (info.width, info.height, info.fmt) == (96, 32, "tiff")

    # single-frame media passes through unchanged as frame 0
    solo = by_doc["d2"]
    assert len(solo) == 1 and solo[0].frame_index == 0
    assert bytes(solo[0].frame) == single


def test_frame_sample_skips_corrupt(spark):
    multi = codec.encode_media("", pages=["a", "b", "c"])
    df = _df_with_media(
        spark,
        [("d1", "d1/ok", multi), ("d2", "d2/bad", multi[:10])],
    )
    out = frame_sample(df, every_n=1).collect()
    assert {r.doc_id for r in out} == {"d1"}
    assert len(out) == 3


def test_mm_frame_sample_query_matches_corpus_rule(spark, sf_tiny):
    """End-to-end build -> sample -> re-encode -> decode: sampled
    frames are exactly every 2nd corpus line, carrying the line text
    and the doc-wide (max-line) width."""
    from handprint_spark.corpus import doc_lines
    from handprint_spark.operators.multimodal import q_mm_frame_sample

    out = q_mm_frame_sample(spark, sf_tiny).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)

    docs = {
        str(r.doc_id): r.text
        for r in spark.read.parquet(f"{sf_tiny}/documents.parquet").collect()
    }
    checked = 0
    for doc_id, text in docs.items():
        lines = doc_lines(doc_id, text or "")
        got = sorted(by_doc.get(doc_id, []), key=lambda r: r.frame_index)
        assert [g.frame_index for g in got] == list(range(0, len(lines), 2))
        if not lines:
            continue
        width = min(320, 64 + 8 * max(len(ln) for ln in lines))
        for g in got:
            assert g.frame_text == lines[g.frame_index]
            assert (g.width, g.height) == (width, 24)
        checked += 1
    assert checked >= 10


def test_interleave_pack_accounting(spark, sf_tiny):
    """Token accounting closes: per doc, sum(tokens) == word cost of
    every text span + MEDIA_TOKEN_COST per media span, sequences
    partition the span list in offset order, and a skewed doc packs
    SKEW_FACTOR x the spans of its unskewed line count."""
    from handprint_spark.corpus import doc_slice_hash, SKEW_MOD, WORDS_PER_LINE
    from handprint_spark.operators.multimodal import (
        MEDIA_TOKEN_COST,
        SEQ_BUDGET,
        q_mm_interleave_pack,
    )

    rows = q_mm_interleave_pack(spark, sf_tiny).collect()
    docs = {
        str(r.doc_id): r.text
        for r in spark.read.parquet(f"{sf_tiny}/documents.parquet").collect()
    }
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == set(docs)
    import math

    for doc_id, seqs in by_doc.items():
        words = docs[doc_id].split()
        n_lines = math.ceil(len(words) / WORDS_PER_LINE)
        if doc_slice_hash(doc_id) % SKEW_MOD == 0:
            n_lines *= 25
            total_words = len(words) * 25
        else:
            total_words = len(words)
        assert sum(s.n_spans for s in seqs) == 2 * n_lines
        assert sum(s.n_media for s in seqs) == n_lines
        assert sum(s.tokens for s in seqs) == total_words + n_lines * MEDIA_TOKEN_COST
        seqs = sorted(seqs, key=lambda s: s.seq_id)
        # sequences tile the offset range contiguously in order
        assert seqs[0].first_offset == 0
        assert seqs[-1].last_offset == 2 * n_lines - 1
        for a, b in zip(seqs, seqs[1:]):
            assert b.first_offset == a.last_offset + 1
        # every sequence starts under budget (greedy overflow is only
        # ever by the final span of the sequence)
        for s in seqs[:-1]:
            assert s.tokens >= 1


def test_caption_align_general_interleaving(spark):
    """Alignment is generic, not an inverse of the alternating
    synthesis: a leading media span has NULL cap_before, a run of
    consecutive media spans shares its flanking captions, and a
    trailing media span has NULL cap_after."""
    from handprint_spark.operators.multimodal import caption_align

    spans = [
        {"kind": "page_image", "text": "", "media_ref": "d/p0", "offset": 0},
        {"kind": "text", "text": "intro paragraph", "media_ref": "", "offset": 1},
        {"kind": "line_image", "text": "", "media_ref": "d/l1", "offset": 2},
        {"kind": "line_image", "text": "", "media_ref": "d/l2", "offset": 3},
        {"kind": "text", "text": "closing words", "media_ref": "", "offset": 4},
        {"kind": "page_image", "text": "", "media_ref": "d/p9", "offset": 5},
    ]
    df = spark.createDataFrame(
        [("d", spans)],
        T.StructType(
            [T.StructField("doc_id", T.StringType()), T.StructField("spans", SPAN_TYPE)]
        ),
    )
    rows = {r.media_ref: r for r in caption_align(df).collect()}
    assert rows["d/p0"].cap_before is None
    assert rows["d/p0"].cap_after == "intro paragraph"
    for ref in ("d/l1", "d/l2"):  # the media run shares flanks
        assert rows[ref].cap_before == "intro paragraph"
        assert rows[ref].cap_after == "closing words"
    assert rows["d/p9"].cap_before == "closing words"
    assert rows["d/p9"].cap_after is None


def test_media_features_null_content_is_error_row(spark):
    """A media struct with NULL content yields an error ROW (the
    schema's error column), never a job-killing bytes(None) TypeError."""
    from handprint_spark.operators.multimodal import media_features

    df = spark.createDataFrame(
        [("d1", [{"media_ref": "d1/line-0", "content": None}])],
        "doc_id string, media array<struct<media_ref:string,content:binary>>",
    )
    rows = media_features(df).collect()
    assert len(rows) == 1
    assert rows[0].error == "null media content" and rows[0].byte_size == 0


def test_media_features_mean_pixel_equals_render(spark):
    """mean_pixel is the mean of the page-1 render, for plain,
    binarized and multi-page media."""
    import numpy as np

    cases = {  # doc_id -> (media bytes, page-1 render arguments)
        "d1": (codec.encode_media("plain text", width=96, height=40),
               ("plain text", 96, 40, False)),
        "d2": (codec.encode_media("inked", width=64, height=48, binarized=True),
               ("inked", 64, 48, True)),
        "d3": (codec.encode_media("", fmt="pdf", width=80, height=32,
                                  pages=["page one", "page two"]),
               ("page one", 80, 32, False)),
    }
    df = _df_with_media(spark, [(d, f"{d}/img-0", data) for d, (data, _) in cases.items()])
    got = {r.doc_id: r for r in media_features(df).collect()}
    for doc_id, (_, render_args) in cases.items():
        assert got[doc_id].error is None
        px = codec.render_pixels(*render_args)
        assert got[doc_id].mean_pixel == round(float(np.mean(px)), 4)
    assert got["d3"].n_pages == 2
