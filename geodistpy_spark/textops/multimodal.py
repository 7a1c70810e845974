"""Multimodal column plumbing: opaque binary media + typed metadata.

Media payloads are opaque ``binary`` columns with typed metadata. Every
media stage (images here, :mod:`.audio`, :mod:`.video`) runs on the
same two Arrow-batched ``mapInPandas`` plumbings defined here:
:func:`_fetch` appends a payload column to a span relation, and
:func:`_map_payloads` turns each ``(doc_id, span_idx, media_ref,
payload)`` row into zero or more typed output rows.

An image payload is decoded once, by :func:`_image`, with one policy:

- pixels: PNG (stdlib zlib inflate + scanline unfiltering), BMP
  (uncompressed rows), GIF (LZW) and baseline JPEG (Huffman + IDCT)
  are fully pixel-decoded by :mod:`.pixels`; dimensions come from the
  pixel array and ``decode_media`` features from
  :func:`.pixels.pixel_features`;
- otherwise container headers: PNG / BMP / GIF / JPEG-SOF / WEBP (VP8,
  VP8L, VP8X) / TIFF-IFD dimensions parsed from the payload bytes
  (pure byte math — :func:`parse_image_header`);
- otherwise format ``raw`` with pseudo-dimensions from the leading
  bytes.

Without pixels (progressive JPEG / WebP / TIFF pixel streams need codec
machinery out of scope here, and unrecognized or corrupt payloads have
none), features are a deterministic byte-derived stand-in that a SQL
oracle can mirror — clearly marked.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from .pixels import decode_pixels, luma, pixel_features

MEDIA_FEATURE_DIM = 8
PAYLOAD_BYTES = 128

DECODED_SCHEMA = (
    "doc_id string, span_idx int, media_ref string, format string, "
    "width int, height int, n_bytes long, features array<float>"
)

_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def parse_image_header(p: bytes):
    """(format, width, height) from container header bytes, or None.

    Pure-Python header parsing (public container specs): PNG IHDR,
    BMP BITMAPINFOHEADER, GIF logical screen descriptor, JPEG SOF scan,
    WEBP RIFF (VP8 lossy frame tag / VP8L bitstream / VP8X canvas),
    TIFF IFD (both byte orders, ImageWidth/ImageLength tags 256/257).
    """
    if len(p) >= 24 and p[:8] == _PNG_MAGIC and p[12:16] == b"IHDR":
        w, h = struct.unpack(">II", p[16:24])
        return "png", w, h
    if len(p) >= 26 and p[:2] == b"BM":
        (hdr_size,) = struct.unpack("<I", p[14:18])
        if hdr_size >= 40:
            w, h = struct.unpack("<ii", p[18:26])
            return "bmp", w, abs(h)
    if len(p) >= 10 and p[:6] in (b"GIF87a", b"GIF89a"):
        w, h = struct.unpack("<HH", p[6:10])
        return "gif", w, h
    if len(p) >= 16 and p[:4] == b"RIFF" and p[8:12] == b"WEBP":
        chunk = p[12:16]
        if chunk == b"VP8X" and len(p) >= 30:
            w = 1 + int.from_bytes(p[24:27], "little")
            h = 1 + int.from_bytes(p[27:30], "little")
            return "webp", w, h
        if chunk == b"VP8 " and len(p) >= 30 and p[23:26] == b"\x9d\x01\x2a":
            w = int.from_bytes(p[26:28], "little") & 0x3FFF
            h = int.from_bytes(p[28:30], "little") & 0x3FFF
            return "webp", w, h
        if chunk == b"VP8L" and len(p) >= 25 and p[20] == 0x2F:
            bits = int.from_bytes(p[21:25], "little")
            return "webp", (bits & 0x3FFF) + 1, ((bits >> 14) & 0x3FFF) + 1
        return None
    if len(p) >= 8 and p[:4] in (b"II*\x00", b"MM\x00*"):
        bo = "little" if p[:2] == b"II" else "big"
        off = int.from_bytes(p[4:8], bo)
        if off + 2 <= len(p):
            n = int.from_bytes(p[off:off + 2], bo)
            w = h = None
            for k in range(n):
                e = off + 2 + 12 * k
                if e + 12 > len(p):
                    break
                tag = int.from_bytes(p[e:e + 2], bo)
                typ = int.from_bytes(p[e + 2:e + 4], bo)
                # value is left-justified in the 4-byte field: SHORT (3)
                # reads 2 bytes, LONG (4) reads 4, in either byte order
                if typ == 3:
                    val = int.from_bytes(p[e + 8:e + 10], bo)
                else:
                    val = int.from_bytes(p[e + 8:e + 12], bo)
                if tag == 256:
                    w = val
                elif tag == 257:
                    h = val
            if w and h:
                return "tiff", w, h
        return None
    if len(p) >= 4 and p[:2] == b"\xff\xd8":
        i = 2
        while i + 9 < len(p):
            if p[i] != 0xFF:
                break
            marker = p[i + 1]
            if marker in (0xC0, 0xC1, 0xC2):  # SOF0/1/2
                h, w = struct.unpack(">HH", p[i + 5: i + 9])
                return "jpeg", w, h
            (seg,) = struct.unpack(">H", p[i + 2: i + 4])
            i += 2 + seg
        return None
    return None


def _synth_payload(ref: str) -> bytes:
    """Deterministic media payload for the fetch STUB: a fifth each of
    real PNG / BMP / WEBP-VP8X / TIFF headers (dimensions derived from
    sha256(ref), so a SQL oracle can mirror them) and raw unheadered
    streams. Always exactly PAYLOAD_BYTES bytes.
    """
    h = hashlib.sha256(ref.encode()).digest()
    kind = h[0] % 5
    w = 16 + (h[1] | (h[2] << 8)) % 2033
    ht = 16 + (h[3] | (h[4] << 8)) % 1525
    if kind == 0:
        head = (_PNG_MAGIC + b"\x00\x00\x00\x0d" + b"IHDR"
                + struct.pack(">II", w, ht) + b"\x08\x06\x00\x00\x00")
    elif kind == 1:
        head = (b"BM" + struct.pack("<I", PAYLOAD_BYTES) + b"\x00\x00\x00\x00"
                + struct.pack("<I", 54) + struct.pack("<I", 40)
                + struct.pack("<ii", w, ht))
    elif kind == 2:
        head = (b"RIFF" + struct.pack("<I", PAYLOAD_BYTES - 8) + b"WEBP"
                + b"VP8X" + struct.pack("<I", 10) + b"\x00\x00\x00\x00"
                + (w - 1).to_bytes(3, "little") + (ht - 1).to_bytes(3, "little"))
    elif kind == 3:
        head = (b"II*\x00" + struct.pack("<I", 8)
                + struct.pack("<H", 2)
                + struct.pack("<HHI", 256, 4, 1) + struct.pack("<I", w)
                + struct.pack("<HHI", 257, 4, 1) + struct.pack("<I", ht)
                + struct.pack("<I", 0))
    else:
        head = b""
    return (head + h * 4)[:PAYLOAD_BYTES]


def _fetch(spans: DataFrame, synth) -> DataFrame:
    """``spans`` plus ``payload binary = synth(media_ref)``.

    STUB: a real deployment resolves ``media://`` refs against an object
    store. Here the payload is a deterministic function of the ref with
    REAL container bytes, so the downstream decodes run on genuine byte
    layouts. Column types and batch flow match the real path exactly.
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pdf.assign(payload=[synth(r) for r in pdf["media_ref"]])

    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                       for f in spans.schema.fields)
    return spans.mapInPandas(gen, schema=schema + ", payload binary")


_KEYS = ["doc_id", "span_idx", "media_ref"]


def _map_payloads(df: DataFrame, fn, schema: str) -> DataFrame:
    """One executor-side stage over a payload relation: every row's
    ``(doc_id, span_idx, media_ref)`` followed by each tuple that
    ``fn(payload)`` returns — one for a decode, zero or more for a
    sampler. A null payload reaches ``fn`` as ``b""``. ``schema`` is the
    DDL of the output, the three key columns first. No shuffle, no
    driver-side work; a batch with no output rows yields nothing.
    """
    names = [c.split()[0] for c in schema.split(",")]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [key + out
                    for key, p in zip(pdf[_KEYS].itertuples(index=False,
                                                            name=None),
                                      pdf["payload"])
                    for out in fn(b"" if p is None else bytes(p))]
            if rows:
                yield pd.DataFrame.from_records(rows, columns=names)

    return df.mapInPandas(gen, schema=schema)


def fetch_media_bytes(media_spans: DataFrame) -> DataFrame:
    """Resolve media_ref -> binary image payload (:func:`_fetch` STUB):
    :func:`_synth_payload` bytes carry REAL PNG/BMP/WEBP/TIFF container
    headers."""
    return _fetch(media_spans, _synth_payload)


def _image(p: bytes):
    """(format, height, width, (h, w, 3) uint8 RGB pixels or None).

    Pixel-decode where :mod:`.pixels` implements the codec; otherwise
    the container header's dimensions; otherwise format ``raw`` with
    pseudo-dimensions from the first four bytes.
    """
    try:
        fmt, img = decode_pixels(p)
        return fmt, img.shape[0], img.shape[1], img
    except (NotImplementedError, ValueError):
        pass
    hdr = parse_image_header(p)
    if hdr is not None:
        return hdr[0], hdr[2], hdr[1], None
    u0, u1 = struct.unpack("<HH", p[:4]) if len(p) >= 4 else (64, 64)
    return "raw", u1 % 1080 + 16, u0 % 1920 + 16, None


def decode_media(media_with_bytes: DataFrame) -> DataFrame:
    """Decode binary media -> (format, dimensions, feature vector).

    Format and dimensions follow :func:`_image`. ``features`` is
    :func:`.pixels.pixel_features` of the true pixels when the payload
    pixel-decodes; otherwise it is a deterministic stand-in that a SQL
    oracle can mirror: the last ``4 * MEDIA_FEATURE_DIM`` bytes (left
    padded with zero bytes) summed in groups of four, over 1020.
    """
    win = MEDIA_FEATURE_DIM * 4

    def decode(p: bytes):
        fmt, h, w, img = _image(p)
        if img is not None:
            feats = pixel_features(img)
        else:
            raw = np.frombuffer(p[-win:].rjust(win, b"\0"), dtype=np.uint8)
            feats = (raw.reshape(MEDIA_FEATURE_DIM, 4).sum(axis=1)
                     / 1020.0).astype(np.float32)
        return [(fmt, w, h, len(p), feats)]

    return _map_payloads(media_with_bytes, decode, DECODED_SCHEMA)


def media_feature_pipeline(docs: DataFrame) -> DataFrame:
    """documents -> media spans -> bytes -> decoded features.

    The end-to-end multimodal path: extraction is pure Catalyst; fetch +
    decode are Arrow-batched mapInPandas stages that scale by partition.
    """
    from ..sources.documents import extract_media_spans

    spans = extract_media_spans(docs)
    with_bytes = fetch_media_bytes(spans.select("doc_id", "span_idx", "media_ref"))
    return decode_media(with_bytes)


def resize_media(media_with_bytes: DataFrame, out_h: int = 8,
                 out_w: int = 8) -> DataFrame:
    """Bilinear resize of each media item's luminance grid to
    (out_h, out_w): (doc_id, span_idx, media_ref, src_h, src_w, pixels)
    with ``pixels`` a row-major array<float> of length out_h * out_w.

    The RESIZE math (numpy bilinear) is real, and so is the SOURCE grid
    for payloads that pixel-decode (:func:`_image`): their true Rec.601
    luminance. Payloads without pixels fall back to a deterministic
    sha256-stream luminance grid at the header's (or pseudo-) aspect
    ratio, clamped to 1x1..16x16 samples — the honest stand-in.
    """
    if out_h < 1 or out_w < 1:
        raise ValueError(f"output shape must be >= 1x1, got {out_h}x{out_w}")

    def _bilinear(g: np.ndarray) -> np.ndarray:
        gh, gw = g.shape
        ys = np.linspace(0.0, gh - 1.0, out_h)
        xs = np.linspace(0.0, gw - 1.0, out_w)
        y0 = np.clip(np.floor(ys).astype(int), 0, gh - 1)
        x0 = np.clip(np.floor(xs).astype(int), 0, gw - 1)
        y1 = np.minimum(y0 + 1, gh - 1)
        x1 = np.minimum(x0 + 1, gw - 1)
        fy = (ys - y0)[:, None]
        fx = (xs - x0)[None, :]
        return ((g[y0][:, x0] * (1 - fy) * (1 - fx))
                + (g[y1][:, x0] * fy * (1 - fx))
                + (g[y0][:, x1] * (1 - fy) * fx)
                + (g[y1][:, x1] * fy * fx))

    def resize(p: bytes):
        _, h, w, img = _image(p)
        if img is not None:
            g = luma(img.astype(np.float64) / 255.0)
        else:
            gh, gw = max(1, min(h, 16)), max(1, min(w, 16))
            stream = hashlib.sha256(p).digest()
            while len(stream) < gh * gw:
                stream += hashlib.sha256(stream).digest()
            g = (np.frombuffer(stream[:gh * gw], dtype=np.uint8)
                 / 255.0).reshape(gh, gw)
        return [(h, w, _bilinear(g).ravel().astype(np.float32))]

    return _map_payloads(
        media_with_bytes, resize,
        "doc_id string, span_idx int, media_ref string, "
        "src_h int, src_w int, pixels array<float>")
