"""Deterministic synthetic media codec ("HPM1").

The sandbox has no PIL/PyMuPDF, and the task rules forbid external
data, so media columns carry a self-describing synthetic format whose
*pixels are a pure function of (text, width, height)*. That gives the
preprocessing chain (``preprocess.normalize_media_bytes``: convert ->
resize -> grayscale -> binarize, reference images.py:139-240 /
manager.py:344-374) a deterministic, byte-reproducible meaning:
resampling at new dimensions re-renders the same function at the new
size — a stand-in for PIL's Image.HAMMING that preserves the property
the pipeline actually relies on (same input bytes => same output bytes
on every executor, any parallelism).

Layout (little-endian):
    magic   4s   b"HPM1"
    fmt     8s   ascii, NUL-padded (canonical format name, e.g. png)
    width   u32
    height  u32
    npages  u16
    flags   u16  bit0 = binarized
    textlen u32  length of UTF-8 text payload
    text    ...  page texts joined by "\\f" (form feed)
    padlen  u32  deterministic incompressible padding (byte-size control)
    pixels  zlib(width*height grayscale bytes, page 1)
    pad     padlen raw bytes from the same keyed stream

``_read`` and ``_write`` are the only code that knows this layout:
every reader and writer of HPM1 objects, the render kernels included,
goes through them.

Corrupt inputs raise ``MediaError`` — mapped downstream to error rows,
never task failures (the reference's row-vs-job error policy,
services/base.py + amazon.py:66-79).
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from typing import NamedTuple

import numpy as np

from .formats import canonical_format_name

MAGIC = b"HPM1"
_HEADER = struct.Struct("<4s8sIIHHI")
FLAG_BINARIZED = 1


class MediaError(ValueError):
    """Unreadable/corrupt media bytes (analog of PIL open errors)."""


class MediaInfo(NamedTuple):
    fmt: str
    width: int
    height: int
    npages: int
    flags: int
    text: str  # page-1 text
    pages: tuple  # all page texts
    size: int  # total encoded byte size


def _stream(key: bytes, n: int) -> bytes:
    """Deterministic pseudo-random byte stream keyed by ``key``.
    SHAKE-256 XOF: one C call for the whole stream (a sha256-counter
    loop here was the pipeline's hottest Python loop)."""
    if n <= 0:
        return b""
    return hashlib.shake_256(key).digest(n)


def render_pixels(text: str, width: int, height: int, binarized: bool = False) -> np.ndarray:
    """Grayscale page render: a pure function of (text, width, height).

    ~3% ink coverage: deterministic mark positions/intensities keyed by
    (text, dims) on a zero background. Real document pages are mostly
    background and their encodings compress (the reference's corpus is
    JPEG/PNG page scans) — a corpus faithful to that profile keeps the
    scan/Arrow-transport bytes proportional to *compressed* image size
    while the decode/render compute still scales with the pixel count,
    matching the CPU-per-byte shape of a real extraction pipeline."""
    n = width * height
    if n == 0:
        return np.zeros((height, width), dtype=np.uint8)
    key = b"HPM1-px|" + text.encode("utf-8") + b"|" + struct.pack("<II", width, height)
    m = max(1, n // 32)
    raw = np.frombuffer(_stream(key, m * 5), dtype=np.uint8)
    pos = (
        (raw[0::5].astype(np.uint64) << 24)
        | (raw[1::5].astype(np.uint64) << 16)
        | (raw[2::5].astype(np.uint64) << 8)
        | raw[3::5].astype(np.uint64)
    ) % n
    val = raw[4::5] | np.uint8(1)  # nonzero ink
    px = np.zeros(n, dtype=np.uint8)
    px[pos] = val
    px = px.reshape(height, width)
    if binarized:
        px = np.where(px >= 128, np.uint8(255), np.uint8(0))
    return px


def _read(data: bytes) -> tuple[MediaInfo, memoryview, int]:
    """The one HPM1 reader: parses header, text and pad length.
    Returns (info, compressed page-1 pixels, pad_len); raises
    MediaError on empty/corrupt input (reference zero-byte guard
    manager.py:252-254 and corrupted-image fixture
    tests/data/bad-images/)."""
    if data is None or len(data) == 0:
        raise MediaError("empty media content")
    if len(data) < _HEADER.size or data[:4] != MAGIC:
        raise MediaError("not an HPM1 media object")
    _, fmt_b, width, height, npages, flags, textlen = _HEADER.unpack_from(data, 0)
    off = _HEADER.size
    if off + textlen + 4 > len(data):
        raise MediaError("truncated media object")
    try:
        joined = data[off : off + textlen].decode("utf-8")
    except UnicodeDecodeError as exc:
        raise MediaError(f"corrupt text payload: {exc}") from exc
    page_texts = tuple(joined.split("\f")) if joined else ("",)
    off += textlen
    (pad_len,) = struct.unpack_from("<I", data, off)
    info = MediaInfo(
        fmt_b.rstrip(b"\0").decode("ascii"), width, height, npages, flags,
        page_texts[0], page_texts, len(data),
    )
    return info, memoryview(data)[off + 4 : len(data) - pad_len], pad_len


def _write(
    fmt: str, pages, flags: int, width: int, height: int, pixels: bytes,
    pad_to: int | None = None,
) -> bytes:
    """The one HPM1 writer: header, text, pad length, the given
    compressed page-1 pixels, and padding up to ``pad_to`` bytes."""
    joined = "\f".join(pages).encode("utf-8")
    header = _HEADER.pack(
        MAGIC, fmt.encode("ascii")[:8].ljust(8, b"\0"), width, height,
        len(pages), flags, len(joined),
    )
    pad_len = max(0, (pad_to or 0) - (len(header) + len(joined) + 4 + len(pixels)))
    pad = _stream(b"HPM1-pad|" + joined, pad_len)
    return header + joined + struct.pack("<I", pad_len) + pixels + pad


def _inflate(info: MediaInfo, pixels: memoryview) -> bytes:
    """Decompress the page-1 plane and check it matches the header dims."""
    try:
        raw = zlib.decompress(pixels)
    except zlib.error as exc:
        raise MediaError(f"corrupt pixel payload: {exc}") from exc
    if len(raw) != info.width * info.height:
        raise MediaError("pixel payload does not match dimensions")
    return raw


def encode_media(
    text: str,
    fmt: str = "png",
    width: int = 320,
    height: int = 200,
    pages: list[str] | None = None,
    pad_to: int | None = None,
    binarized: bool = False,
) -> bytes:
    """Encode a synthetic media object. ``pages`` overrides ``text`` for
    multi-page formats (pdf/tiff); ``pad_to`` grows the encoding with
    incompressible padding to a target byte size (size-cap testing)."""
    page_texts = pages if pages is not None else [text]
    if not page_texts:
        # a clean MediaError, not an IndexError task failure — the
        # module's errors-are-values policy holds for encode too
        raise MediaError("cannot encode media with zero pages")
    # level 1: on the sparse ink plane the ratio loss vs level 6 is a few
    # percent while deflate drops from ~35% of extraction CPU to ~10%
    pixels = zlib.compress(
        render_pixels(page_texts[0], width, height, binarized).tobytes(), 1
    )
    flags = FLAG_BINARIZED if binarized else 0
    return _write(canonical_format_name(fmt), page_texts, flags, width, height, pixels, pad_to)


def decode_media(data: bytes, verify_pixels: bool = True) -> MediaInfo:
    """Parse header + text of an HPM1 object; raises MediaError on
    empty/corrupt input.

    ``verify_pixels=False`` skips the zlib round-trip — only valid for
    bytes this process just encoded or verified itself."""
    info, pixels, _ = _read(data)
    if verify_pixels:
        _inflate(info, pixels)
    return info


def decode_pixels(data: bytes) -> np.ndarray:
    """Fully-verified decode returning the page-1 pixel plane
    (height x width uint8) — the stored payload, annotated or rendered.
    Raises MediaError on any corruption decode_media would reject."""
    info, pixels, _ = _read(data)
    raw = _inflate(info, pixels)
    return np.frombuffer(raw, dtype=np.uint8).reshape(info.height, info.width)


def swap_format(data: bytes, to_format: str, info: MediaInfo | None = None) -> bytes | None:
    """Header-only format rename. HPM1 pixels are a pure function of
    (page-1 text, width, height, binarized), so when nothing but the
    format NAME changes, the pixel payload a re-encode would produce
    is already the payload in ``data`` — renaming the header is
    equivalent to (and ~10x cheaper than) a render+deflate round trip.
    Returns None when the rename is NOT equivalent to a re-encode
    (multi-page object — a re-encode keeps only page 1 — or padded
    payload — a re-encode drops the pad), so callers fall back.
    ``info``, the caller's already-read header, refuses multi-page
    objects without a second read."""
    if info is not None and info.npages != 1:
        return None
    info, pixels, pad_len = _read(data)
    if info.npages != 1 or pad_len:
        return None
    fmt = canonical_format_name(to_format)
    return _write(fmt, info.pages, info.flags, info.width, info.height, pixels)
