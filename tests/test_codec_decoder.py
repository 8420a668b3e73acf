"""Codec + preprocessing-chain + deterministic-decoder kernel tests."""

import pytest

from handprint_spark.kernels import codec
from handprint_spark.kernels.decoder import decode_media_bytes, decode_page, word_confidence
from handprint_spark.kernels.preprocess import normalize_media_bytes

TEXT = "the quick brown fox\njumps over the lazy dog"


def test_encode_decode_roundtrip():
    b = codec.encode_media(TEXT, fmt="jpg", width=120, height=64)
    info = codec.decode_media(b)
    assert info.fmt == "jpeg"  # canonicalized
    assert (info.width, info.height) == (120, 64)
    assert info.text == TEXT
    assert info.npages == 1


def test_encoding_is_deterministic():
    a = codec.encode_media(TEXT, width=80, height=40)
    b = codec.encode_media(TEXT, width=80, height=40)
    assert a == b


def test_pad_to_controls_size():
    b = codec.encode_media(TEXT, width=32, height=32, pad_to=5000)
    assert len(b) == 5000
    assert codec.decode_media(b).text == TEXT


def test_corrupt_and_empty_media():
    with pytest.raises(codec.MediaError):
        codec.decode_media(b"")
    with pytest.raises(codec.MediaError):
        codec.decode_media(b"NOTMEDIA" + b"\0" * 64)
    good = codec.encode_media(TEXT, width=32, height=32)
    with pytest.raises(codec.MediaError):
        codec.decode_media(good[: len(good) // 2] )


def test_multipage_keeps_page1_on_convert():
    # reference PDF rule: first page only (images.py:211-218)
    b = codec.encode_media("", fmt="pdf", width=64, height=64, pages=["page one", "page two"])
    assert codec.decode_media(b).npages == 2
    png, err = normalize_media_bytes(b, None, None, None)
    assert err is None
    info = codec.decode_media(png)
    assert info.fmt == "png" and info.npages == 1 and info.text == "page one"


def test_resize_preserves_text():
    b = codec.encode_media(TEXT, width=300, height=200)
    r, err = normalize_media_bytes(b, None, 30, 20)
    assert err is None
    info = codec.decode_media(r)
    assert (info.width, info.height) == (30, 20)
    assert info.text == TEXT


def test_binarize_flags_and_pixels():
    b = codec.encode_media(TEXT, width=16, height=16)
    bz, err = normalize_media_bytes(b, None, None, None, binarize=True)
    assert err is None
    info = codec.decode_media(bz)
    assert info.flags & codec.FLAG_BINARIZED
    assert set(codec.decode_pixels(bz).flatten().tolist()) <= {0, 255}


def test_normalize_chain_converts_and_caps():
    # jpeg over a 1000x1000 dimension cap -> png, dims reduced by the
    # fit-within ratio (dimension stage only; byte cap disabled)
    b = codec.encode_media(TEXT, fmt="jpg", width=1200, height=500)
    out, err = normalize_media_bytes(b, max_size=None, max_width=1000, max_height=1000)
    assert err is None
    info = codec.decode_media(out)
    assert info.fmt == "png"
    # ratio = min(1000/1200, 1000/500) = 5/6 -> (1000, 417)
    assert (info.width, info.height) == (1000, round(500 * (1000 / 1200)))


def test_normalize_chain_dimension_then_size_cap():
    # both stages fire: dims first, then the byte cap shrinks further
    # (HPM1 sparse-ink pixels compress ~12x, so bytes ~ pixel count / 12)
    b = codec.encode_media(TEXT, fmt="jpg", width=1200, height=500)
    out, err = normalize_media_bytes(b, max_size=20_000, max_width=1000, max_height=1000)
    assert err is None
    info = codec.decode_media(out)
    assert info.fmt == "png"
    assert len(out) <= 24_000  # one-shot ratio shot lands near the cap
    assert info.width < 1000 and info.height < 417
    assert info.text == TEXT  # text survives the whole chain


def test_normalize_chain_early_exit_passthrough():
    # already-PNG within caps -> original bytes pass through untouched
    # (reference early-exit images.py:149-152 + cached-artifact reuse I9)
    b = codec.encode_media(TEXT, width=100, height=50, pad_to=20000)
    out, err = normalize_media_bytes(b, max_size=100000, max_width=None, max_height=None)
    assert err is None
    assert out == b


def test_normalize_chain_size_cap_fires():
    # pixel payload alone exceeds the cap -> ratio-resized re-encode
    b = codec.encode_media(TEXT, width=1000, height=500)  # ~40 KB encoded
    assert len(b) > 8000
    out, err = normalize_media_bytes(b, max_size=8000, max_width=None, max_height=None)
    assert err is None
    assert len(out) <= 9000  # one-shot ratio lands near the cap
    info = codec.decode_media(out)
    assert info.text == TEXT and info.width < 1000


def test_swap_format_equals_reencode():
    # the header-rename fast path must produce byte-identical output to
    # a fresh encode at the target format (pure-pixel-function property)
    b = codec.encode_media(TEXT, fmt="jpg", width=120, height=40)
    swapped = codec.swap_format(b, "png")
    assert swapped == codec.encode_media(TEXT, fmt="png", width=120, height=40)
    out, err = normalize_media_bytes(b, max_size=None, max_width=None, max_height=None)
    assert err is None and out == swapped
    # padded / multi-page objects refuse the rename (re-encode differs)
    assert codec.swap_format(codec.encode_media(TEXT, fmt="jpg", pad_to=9000), "png") is None
    assert codec.swap_format(codec.encode_media("", fmt="tiff", pages=["a", "b"]), "png") is None


def test_normalize_chain_error_value():
    out, err = normalize_media_bytes(b"garbage", 1000, None, None)
    assert out is None and err is not None


def test_decoder_geometry_and_determinism():
    tr = decode_page("ab cd\nefg")
    kinds = [b.kind for b in tr.boxes]
    assert kinds == ["para", "line", "word", "word", "line", "word"]
    para, line0, w_ab, w_cd, line1, w_efg = tr.boxes
    # line 0: y in [4, 20); 'ab' at x=[4, 20), 'cd' at x=[28, 44)
    assert w_ab.bb == [4, 4, 20, 4, 20, 20, 4, 20]
    assert w_cd.bb == [28, 4, 44, 4, 44, 20, 28, 20]
    # line 1 starts at y=24
    assert w_efg.bb[1] == 24
    assert tr.text == "ab cd\nefg"
    assert decode_page("ab cd\nefg") == tr  # pure


def test_decoder_scores():
    s = word_confidence("fox")
    assert 0.5 <= s <= 0.999
    assert word_confidence("fox") == s
    tr = decode_page("fox")
    line = [b for b in tr.boxes if b.kind == "line"][0]
    assert line.score == s  # min of the single word score


def test_decode_media_bytes_error_row():
    tr = decode_media_bytes(b"\x00" * 10)
    assert tr.error is not None and tr.text == "" and tr.boxes == []
    good = codec.encode_media("hello world", width=64, height=32)
    tr = decode_media_bytes(good)
    assert tr.error is None and tr.text == "hello world"


def test_encode_media_empty_pages_is_media_error():
    import pytest

    from handprint_spark.kernels.codec import MediaError, encode_media

    with pytest.raises(MediaError, match="zero pages"):
        encode_media("ignored", pages=[])


def test_decode_pixels_matches_render_and_rejects_corrupt():
    import numpy as np
    import pytest as _pytest

    from handprint_spark.kernels import codec

    text = "the fast key order sort table"
    b = codec.encode_media(text)
    info = codec.decode_media(b)
    assert np.array_equal(
        codec.decode_pixels(b), codec.render_pixels(text, info.width, info.height)
    )
    # corrupt the compressed pixel payload -> MediaError, exactly as
    # decode_media(verify_pixels=True) would reject it
    bad = bytearray(b)
    bad[-3] ^= 0xFF
    with _pytest.raises(codec.MediaError):
        codec.decode_pixels(bytes(bad))
    with _pytest.raises(codec.MediaError):
        codec.decode_media(bytes(bad))
