"""Annotation + grid render kernels and Spark stages."""

import numpy as np
import pytest

from handprint_spark.kernels import codec
from handprint_spark.kernels.decoder import decode_page
from handprint_spark.kernels.codec import decode_pixels
from handprint_spark.kernels.render import annotate, make_grid


def _page(text="alpha beta\ngamma", w=160, h=64):
    return codec.encode_media(text, width=w, height=h)


def test_annotate_draws_outlines_deterministically():
    data = _page()
    boxes = [b._asdict() for b in decode_page("alpha beta\ngamma").boxes]
    out1 = annotate(data, boxes)
    out2 = annotate(data, boxes)
    assert out1 == out2
    px = decode_pixels(out1)
    base = codec.render_pixels("alpha beta\ngamma", 160, 64)
    assert (px != base).any()  # something was drawn
    # word box of 'alpha': x in [4,44], y in [4,20] -> border intensity 255
    assert px[4, 4] == 255 and px[20, 44] == 255


def test_annotate_f1_threshold_and_f2_kinds():
    data = _page()
    boxes = [b._asdict() for b in decode_page("alpha beta\ngamma").boxes]
    none_drawn = annotate(data, boxes, score_threshold=1.1)
    base = codec.render_pixels("alpha beta\ngamma", 160, 64)
    assert (decode_pixels(none_drawn) == base).all()
    only_para = annotate(data, boxes, kinds=("para",))
    px = decode_pixels(only_para)
    vals = set(np.unique(px[px != base]).tolist()) if (px != base).any() else set()
    assert vals <= {64}  # para intensity only


def test_display_matrix_resolution():
    """Reference display-selection parity (__main__.py:476-482,
    images.py:258-267), plural-form quirk included."""
    from handprint_spark.kernels.render import resolve_display

    assert resolve_display(["text"]) == (set(), True)
    assert resolve_display(["bb"]) == ({"word", "line", "para"}, False)
    assert resolve_display(["bb-word"]) == ({"word"}, False)
    assert resolve_display(["bb-word", "text"]) == ({"word"}, True)
    assert resolve_display(["bb-line", "bb-para"]) == ({"line", "para"}, False)
    # the quirk: plural forms validate in the CLI but match no box.kind
    assert resolve_display(["bb-words"]) == ({"words"}, False)


def test_label_pixels_differ_by_display_selection():
    """F5/I6 parity: ['text'] draws word labels where ['bb-word'] draws
    outlines — the two displays must differ exactly in the label
    region, and the label pixels must be the deterministic function of
    the word text."""
    from handprint_spark.kernels.render import (
        LABEL_BG,
        label_pixels,
        resolve_display,
    )

    data = _page()
    tr = decode_page("alpha beta\ngamma")
    boxes = [b._asdict() for b in tr.boxes]
    base = codec.render_pixels("alpha beta\ngamma", 160, 64)

    with_text = decode_pixels(annotate(data, boxes, display=["text"]))
    with_bb = decode_pixels(annotate(data, boxes, display=["bb-word"]))
    with_both = decode_pixels(annotate(data, boxes, display=["bb-word", "text"]))
    assert (with_text != with_bb).any()

    # label anchored at the first word box corner: exact glyph content
    word = next(b for b in boxes if b["kind"] == "word")
    x, y = int(word["bb"][0]), int(word["bb"][1])
    glyphs = label_pixels(word["text"])
    gh, gw = glyphs.shape
    region = with_text[y : y + gh, x : x + gw]
    assert (region == np.maximum(glyphs, np.uint8(LABEL_BG))).all()
    # bb-only display leaves the label's interior untouched (outline
    # pixels aside): interior of the region equals the base render
    inner = with_bb[y + 1 : y + gh - 1, x + 1 : x + gw - 1]
    assert (inner == base[y + 1 : y + gh - 1, x + 1 : x + gw - 1]).all()
    # text draws last (z-order 10): combined display shows the label
    assert (with_both[y : y + gh, x : x + gw] == region).all()
    # plural-form quirk draws nothing at all
    quirk = decode_pixels(annotate(data, boxes, display=["bb-words"]))
    assert (quirk == base).all()


def test_label_shift_clamps_to_page():
    data = _page()
    boxes = [b._asdict() for b in decode_page("alpha beta\ngamma").boxes]
    # a large negative shift must clamp to (0, 0), not wrap or crash;
    # every label collapses there, so the LAST word drawn wins
    out = decode_pixels(annotate(data, boxes, display=["text"], shift=(-500, -500)))
    last_word = [b for b in boxes if b["kind"] == "word"][-1]
    from handprint_spark.kernels.render import LABEL_BG, label_pixels

    glyphs = label_pixels(last_word["text"])
    assert out[0, 0] == max(int(glyphs[0, 0]), LABEL_BG)


def test_grid_geometry():
    tiles = [_page(f"x{i}", w=20 + 10 * i, h=30) for i in range(5)]
    grid = make_grid(tiles, max_horizontal=4)
    px = decode_pixels(grid)
    # 5 images -> ceil(sqrt(5)) = 3 cols, 2 rows
    # col widths = max over rows per column: [max(20,50)=50, max(30,60)=60, 40]
    assert px.shape[1] == 50 + 60 + 40
    assert px.shape[0] == 30 + 30


def test_grid_empty_and_single():
    assert decode_pixels(make_grid([])).shape == (1, 1)
    one = _page("only", w=40, h=20)
    assert decode_pixels(make_grid([one])).shape == (20, 40)


def test_spark_annotated_and_grids(spark, sf_tiny):
    from handprint_spark.corpus import load_documents_spans
    from handprint_spark.operators.render import annotated_media, doc_grids

    spans = load_documents_spans(spark, sf_tiny).limit(30)
    ann = annotated_media(spans, score_threshold=0.0).cache()
    rows = ann.collect()
    assert rows
    ok = [r for r in rows if r.error is None]
    corrupt = [r for r in rows if r.error is not None]
    assert ok and all(r.annotated is not None and r.n_boxes > 0 for r in ok)
    from handprint_spark.corpus import is_corrupt
    assert all(is_corrupt(r.doc_id) for r in corrupt)  # only corrupt slice errors

    grids = {r.doc_id: r for r in doc_grids(ann).collect()}
    assert grids
    some = next(iter(grids.values()))
    px = decode_pixels(bytes(some.grid))
    assert px.size > 0 and some.n_tiles >= 1
    ann.unpersist()


def test_doc_grids_tiles_in_natural_reading_order(spark):
    """line-10 must tile after line-2: lexicographic media_ref order
    scrambled any document with 10+ crops. Pin with 12 distinct-dim
    crops: the grid's total size reproduces only under numeric order
    and the first tile's pixels are line-0's."""
    from handprint_spark.kernels.codec import decode_pixels, encode_media
    from handprint_spark.kernels.render import make_grid
    from handprint_spark.operators.render import doc_grids

    crops = [
        encode_media(f"w{i}", width=40 + 4 * i, height=12 + i) for i in range(12)
    ]
    rows = [("d", f"d/line-{i}", crops[i], 0, None) for i in range(12)]
    df = spark.createDataFrame(
        rows, "doc_id string, media_ref string, annotated binary, n_boxes int, error string"
    )
    got = doc_grids(df).collect()[0]
    assert got.n_tiles == 12
    expected = make_grid(crops)  # natural order 0..11
    assert bytes(got.grid) == expected
    assert decode_pixels(bytes(got.grid)) is not None


def test_annotated_media_null_content_is_error_row(spark):
    """A media struct with NULL content yields an error ROW, never a
    job-killing bytes(None) TypeError."""
    from handprint_spark.operators.render import annotated_media

    df = spark.createDataFrame(
        [("d1", [{"media_ref": "d1/line-0", "content": None}])],
        "doc_id string, media array<struct<media_ref:string,content:binary>>",
    )
    rows = annotated_media(df).collect()
    assert len(rows) == 1
    assert rows[0].error == "null media content"
    assert rows[0].annotated is None and rows[0].n_boxes == 0
