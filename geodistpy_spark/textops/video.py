"""MP4 / ISO-BMFF video container decode — pure stdlib struct, no
codec libraries.

The video third of the multimodal surface (images: :mod:`.pixels` /
:mod:`.multimodal`, audio: :mod:`.audio`). Container parsing is
implemented from the public ISO/IEC 14496-12 box format:

- **box walk**: 32-bit sizes, ``size == 1`` (64-bit largesize),
  ``size == 0`` (box extends to end of enclosing scope), unknown boxes
  skipped; nested paths (``moov/trak/mdia/minf/stbl``) resolved
  recursively.
- **movie / track metadata**: ``ftyp`` major brand, ``mvhd`` (both v0
  u32 and v1 u64 layouts) movie timescale + duration, the video
  track's (``hdlr`` handler ``vide``) ``tkhd`` 16.16 fixed-point
  width/height (v0 and v1 layouts), ``mdhd`` media timescale.
- **sample tables**: ``stts`` (decode deltas -> fps), ``stsz`` (fixed
  or per-sample sizes), ``stsc`` run-length sample-to-chunk map,
  ``stco``/``co64`` chunk offsets — composed into an absolute
  per-frame ``(offset, size)`` table, so frame payload bytes are
  extracted from ``mdat`` by REAL container index math (not a
  fixed-stride stand-in).

Decoding the codec bitstream inside each frame (H.264 etc.) needs
codec machinery out of scope here; frame payloads stay opaque
``binary`` — which is exactly what a frame-sampling training-data
pipeline ships to a downstream vision encoder.

Spark surface, on the image path's plumbing (:mod:`.multimodal`
``_fetch`` / ``_map_payloads``): a fetch stub that synthesises
deterministic REAL MP4 payloads from the span ref (brand / frame
count / fps / dimensions / box versions / stco-vs-co64 all derive from
sha256, so tests and the DuckDB oracle recompute them independently,
and every synthesised frame's bytes are a sha256-derived sequence a
gate can verify after extraction), a ``decode_video_meta`` stage,
and ``sample_video_frames`` (uniform frame picks through the real
sample tables).

Parity note: the reference engine (/root/reference/geodistpy) has no
multimodal surface at all; this module extends it for training-data
pipelines (SURVEY.md §2 LLM additions), so there is no reference file
to cite.
"""

from __future__ import annotations

import hashlib
import struct

from pyspark.sql import DataFrame

from .multimodal import _fetch, _map_payloads

__all__ = [
    "walk_boxes",
    "find_box",
    "parse_mp4_header",
    "mp4_frame_table",
    "fetch_video_bytes",
    "decode_video_meta",
    "sample_video_frames",
    "video_feature_pipeline",
]


def walk_boxes(p: bytes, start: int = 0, end: int | None = None):
    """Yield ``(box_type, payload_off, payload_end)`` for each box in
    ``p[start:end]`` (one nesting level)."""
    end = len(p) if end is None else end
    i = start
    while i + 8 <= end:
        (size,) = struct.unpack(">I", p[i:i + 4])
        btype = p[i + 4:i + 8]
        off = i + 8
        if size == 1:  # 64-bit largesize follows the type
            if off + 8 > end:
                raise ValueError("truncated largesize box header")
            (size,) = struct.unpack(">Q", p[off:off + 8])
            off += 8
            box_end = i + size
        elif size == 0:  # box extends to the end of the enclosing scope
            box_end = end
        else:
            box_end = i + size
        if box_end < off or box_end > end:
            raise ValueError(f"box {btype!r} overruns its scope")
        yield btype, off, box_end
        i = box_end


def find_box(p: bytes, path: list[bytes], start: int = 0,
             end: int | None = None):
    """First box at ``path`` (e.g. ``[b'moov', b'trak']``) ->
    ``(payload_off, payload_end)`` or None."""
    end = len(p) if end is None else end
    head, rest = path[0], path[1:]
    for btype, off, box_end in walk_boxes(p, start, end):
        if btype == head:
            if not rest:
                return off, box_end
            return find_box(p, rest, off, box_end)
    return None


def _fullbox(p: bytes, off: int):
    """(version, payload_off_after_version_flags) of a FullBox."""
    if off + 4 > len(p):
        raise ValueError("truncated FullBox header")
    return p[off], off + 4


def _u32(p: bytes, i: int) -> int:
    if i + 4 > len(p):
        raise ValueError("box field truncated (u32 past end of payload)")
    return struct.unpack(">I", p[i:i + 4])[0]


def _u64(p: bytes, i: int) -> int:
    if i + 8 > len(p):
        raise ValueError("box field truncated (u64 past end of payload)")
    return struct.unpack(">Q", p[i:i + 8])[0]


def _video_trak(p: bytes, moov: tuple[int, int]):
    """(trak_off, trak_end) of the first track whose hdlr is 'vide'."""
    for btype, off, box_end in walk_boxes(p, moov[0], moov[1]):
        if btype != b"trak":
            continue
        hdlr = find_box(p, [b"mdia", b"hdlr"], off, box_end)
        if hdlr is not None and p[hdlr[0] + 8:hdlr[0] + 12] == b"vide":
            return off, box_end
    raise ValueError("MP4 has no video (hdlr 'vide') track")


def parse_mp4_header(p: bytes) -> dict:
    """Parse an ISO-BMFF payload's movie + video-track metadata.

    Returns ``{"brand", "movie_timescale", "movie_duration",
    "timescale", "duration", "width", "height", "n_frames", "fps",
    "duration_ms"}``; raises ValueError on non-MP4 / malformed
    payloads or when no video track exists. ``width``/``height`` come
    from tkhd 16.16 fixed point; ``fps`` is the media timescale over
    the stts-weighted mean sample delta.
    """
    ftyp = find_box(p, [b"ftyp"])
    if ftyp is None or ftyp[1] - ftyp[0] < 4:
        raise ValueError("not an ISO-BMFF payload (no ftyp box)")
    brand = p[ftyp[0]:ftyp[0] + 4].decode("ascii", "replace").strip()
    moov = find_box(p, [b"moov"])
    if moov is None:
        raise ValueError("MP4 missing moov box")

    mvhd = find_box(p, [b"mvhd"], moov[0], moov[1])
    if mvhd is None:
        raise ValueError("MP4 missing mvhd box")
    ver, i = _fullbox(p, mvhd[0])
    # field reads must stay inside the BOX, not just the payload — a
    # lying mvhd size would otherwise read the next box's bytes as
    # timescale/duration (silently wrong instead of ValueError)
    if i + (28 if ver == 1 else 16) > mvhd[1]:
        raise ValueError("mvhd box truncated")
    if ver == 1:
        movie_ts, movie_dur = _u32(p, i + 16), _u64(p, i + 20)
    else:
        movie_ts, movie_dur = _u32(p, i + 8), _u32(p, i + 12)

    trak = _video_trak(p, moov)
    tkhd = find_box(p, [b"tkhd"], trak[0], trak[1])
    if tkhd is None:
        raise ValueError("video track missing tkhd box")
    ver, i = _fullbox(p, tkhd[0])
    # after version/flags: v0 = 20 bytes of times/ids, v1 = 32; then
    # reserved(8) + layer(2) + alt_group(2) + volume(2) + reserved(2)
    # + matrix(36) = 52 bytes before the 16.16 width/height
    i += (32 if ver == 1 else 20) + 52
    if i + 8 > tkhd[1]:
        raise ValueError("tkhd box truncated")
    width, height = _u32(p, i) >> 16, _u32(p, i + 4) >> 16

    mdhd = find_box(p, [b"mdia", b"mdhd"], trak[0], trak[1])
    if mdhd is None:
        raise ValueError("video track missing mdhd box")
    ver, i = _fullbox(p, mdhd[0])
    if i + (20 if ver == 1 else 12) > mdhd[1]:
        raise ValueError("mdhd box truncated")
    timescale = _u32(p, i + 16) if ver == 1 else _u32(p, i + 8)
    if timescale < 1:
        raise ValueError("mdhd timescale must be positive")

    stbl = find_box(p, [b"mdia", b"minf", b"stbl"], trak[0], trak[1])
    if stbl is None:
        raise ValueError("video track missing stbl box")
    stts = find_box(p, [b"stts"], stbl[0], stbl[1])
    if stts is None:
        raise ValueError("video track missing stts box")
    _, i = _fullbox(p, stts[0])
    n_ent = _u32(p, i)
    if i + 4 + 8 * n_ent > stts[1]:
        raise ValueError("stts entry count overruns its box")
    n_samples = 0
    total_delta = 0
    for k in range(n_ent):
        cnt, delta = _u32(p, i + 4 + 8 * k), _u32(p, i + 8 + 8 * k)
        n_samples += cnt
        total_delta += cnt * delta
    if n_samples < 1:
        raise ValueError("stts reports zero samples")
    fps = timescale * n_samples / total_delta if total_delta else 0.0
    return {
        "brand": brand,
        "movie_timescale": movie_ts,
        "movie_duration": movie_dur,
        "timescale": timescale,
        "duration": total_delta,
        "width": width,
        "height": height,
        "n_frames": n_samples,
        "fps": fps,
        "duration_ms": 1000.0 * total_delta / timescale,
    }


def mp4_frame_table(p: bytes) -> list[tuple[int, int]]:
    """Absolute ``(offset, size)`` of every video sample (frame), in
    decode order, composed from stsz + stsc + stco/co64.

    This is the real container index math: chunk k starts at
    ``stco[k]``; its samples are laid back-to-back with their stsz
    sizes; stsc run-length entries say how many samples each chunk
    holds.
    """
    moov = find_box(p, [b"moov"])
    if moov is None:
        raise ValueError("MP4 missing moov box")
    trak = _video_trak(p, moov)
    stbl = find_box(p, [b"mdia", b"minf", b"stbl"], trak[0], trak[1])
    if stbl is None:
        raise ValueError("video track missing stbl box")

    stsz = find_box(p, [b"stsz"], stbl[0], stbl[1])
    if stsz is None:
        raise ValueError("video track missing stsz box")
    _, i = _fullbox(p, stsz[0])
    fixed, n_samples = _u32(p, i), _u32(p, i + 4)
    # count sanity BEFORE allocation: a poisoned count (declared 4B
    # samples in a 100-byte box) must raise, not OOM the executor
    if n_samples > len(p):
        raise ValueError("stsz sample count exceeds payload size")
    if fixed:
        sizes = [fixed] * n_samples
    else:
        if i + 8 + 4 * n_samples > stsz[1]:
            raise ValueError("stsz size table overruns its box")
        sizes = [_u32(p, i + 8 + 4 * k) for k in range(n_samples)]

    co = find_box(p, [b"stco"], stbl[0], stbl[1])
    wide = False
    if co is None:
        co = find_box(p, [b"co64"], stbl[0], stbl[1])
        wide = True
    if co is None:
        raise ValueError("video track missing stco/co64 box")
    _, i = _fullbox(p, co[0])
    n_chunks = _u32(p, i)
    if i + 4 + (8 if wide else 4) * n_chunks > co[1]:
        raise ValueError("stco/co64 offset table overruns its box")
    offsets = [(_u64(p, i + 4 + 8 * k) if wide else _u32(p, i + 4 + 4 * k))
               for k in range(n_chunks)]

    stsc = find_box(p, [b"stsc"], stbl[0], stbl[1])
    if stsc is None:
        raise ValueError("video track missing stsc box")
    _, i = _fullbox(p, stsc[0])
    n_ent = _u32(p, i)
    if i + 4 + 12 * n_ent > stsc[1]:
        raise ValueError("stsc run table overruns its box")
    runs = [(_u32(p, i + 4 + 12 * k), _u32(p, i + 8 + 12 * k))
            for k in range(n_ent)]  # (first_chunk 1-based, samples_per_chunk)

    table: list[tuple[int, int]] = []
    s = 0
    for r, (first, spc) in enumerate(runs):
        last = runs[r + 1][0] - 1 if r + 1 < len(runs) else n_chunks
        for ck in range(first - 1, last):
            if ck < 0 or ck >= len(offsets):
                raise ValueError(
                    f"stsc references chunk {ck + 1} outside stco's "
                    f"{len(offsets)} entries")
            pos = offsets[ck]
            for _ in range(spc):
                if s >= n_samples:
                    return table
                # bounds-check every frame slice: Python slicing clamps
                # silently, so an out-of-payload stco offset or stsz
                # overrun would otherwise ship truncated/empty frame
                # bytes downstream as if they were valid samples
                if pos + sizes[s] > len(p):
                    raise ValueError(
                        f"sample {s} at offset {pos} (+{sizes[s]} B) "
                        "overruns the payload")
                table.append((pos, sizes[s]))
                pos += sizes[s]
                s += 1
    if s != n_samples:
        raise ValueError(
            f"stsc/stco cover {s} samples but stsz declares {n_samples}")
    return table


# ---------------------------------------------------------------------------
# deterministic synth (all parameters derive from sha256('v:' + ref) so
# tests and the DuckDB oracle can recompute them independently)

_SYNTH_BRANDS = (b"isom", b"mp42", b"avc1")
_SYNTH_FPS = (12, 24, 25, 30)
_IDENTITY_MATRIX = struct.pack(
    ">9I", 0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000)


def _synth_frame(ref: str, idx: int, size: int) -> bytes:
    """Frame payload: sha256(f'{ref}:{idx}') repeated to ``size`` bytes
    (first 32 bytes == the digest — the extraction gate checks that)."""
    d = hashlib.sha256(f"{ref}:{idx}".encode()).digest()
    return (d * (size // 32 + 1))[:size]


def _synth_mp4(ref: str) -> bytes:
    """Deterministic REAL MP4 payload for the fetch stub.

    Brand / frame count / frame rate / dimensions / box versions /
    chunking / stco-vs-co64 all derive from sha256('v:' + ref); the
    layout is ftyp + mdat + moov with genuine stts/stsz/stsc/stco
    sample tables, so the parser and frame extractor run on real box
    trees covering both FullBox versions and both chunk-offset widths.
    """
    d = hashlib.sha256(b"v:" + ref.encode()).digest()
    brand = _SYNTH_BRANDS[d[0] % 3]
    n_frames = 3 + d[1] % 14
    delta = 100 + (d[2] % 9) * 50
    fps = _SYNTH_FPS[d[3] % 4]
    timescale = delta * fps
    width = 16 + (d[4] + 256 * d[5]) % 4080
    height = 16 + (d[6] + 256 * d[7]) % 2160
    v1 = bool(d[8] & 1)
    use_co64 = bool(d[8] & 2)
    spc = 1 + (d[8] >> 2) % 3  # samples per chunk
    sizes = [36 + ((d[9] + 11 * i) % 100) for i in range(n_frames)]

    def box(btype: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", 8 + len(payload)) + btype + payload

    ftyp = box(b"ftyp", brand + struct.pack(">I", 0) + brand)
    frames = [_synth_frame(ref, i, sizes[i]) for i in range(n_frames)]
    mdat = box(b"mdat", b"".join(frames))
    mdat_payload_off = len(ftyp) + 8

    # chunking: full chunks of `spc` frames, remainder in a final chunk
    chunk_sizes = [spc] * (n_frames // spc)
    if n_frames % spc:
        chunk_sizes.append(n_frames % spc)
    offsets = []
    pos = mdat_payload_off
    s = 0
    for c in chunk_sizes:
        offsets.append(pos)
        pos += sum(sizes[s:s + c])
        s += c

    dur = n_frames * delta
    movie_ts = 1000
    movie_dur = dur * movie_ts // timescale
    if v1:
        mvhd = (b"\x01\x00\x00\x00" + struct.pack(">QQIQ", 0, 0, movie_ts,
                                                  movie_dur)
                + b"\x00" * 80)
        tkhd_head = b"\x01\x00\x00\x07" + struct.pack(">QQI4xQ", 0, 0, 1, dur)
    else:
        mvhd = (b"\x00\x00\x00\x00" + struct.pack(">IIII", 0, 0, movie_ts,
                                                  movie_dur)
                + b"\x00" * 80)
        tkhd_head = b"\x00\x00\x00\x07" + struct.pack(">III4xI", 0, 0, 1, dur)
    tkhd = (tkhd_head + b"\x00" * 16
            + _IDENTITY_MATRIX
            + struct.pack(">II", width << 16, height << 16))
    mdhd = (b"\x00\x00\x00\x00"
            + struct.pack(">IIII", 0, 0, timescale, dur)
            + struct.pack(">HH", 0x55C4, 0))  # language 'und'
    hdlr = (b"\x00\x00\x00\x00" + b"\x00" * 4 + b"vide" + b"\x00" * 12
            + b"video\x00")
    stsd = b"\x00\x00\x00\x00" + struct.pack(">I", 0)
    stts = (b"\x00\x00\x00\x00" + struct.pack(">I", 1)
            + struct.pack(">II", n_frames, delta))
    stsz = (b"\x00\x00\x00\x00" + struct.pack(">II", 0, n_frames)
            + b"".join(struct.pack(">I", sz) for sz in sizes))
    if len(chunk_sizes) > 1 and chunk_sizes[-1] != spc:
        stsc_runs = [(1, spc), (len(chunk_sizes), chunk_sizes[-1])]
    else:
        stsc_runs = [(1, chunk_sizes[0])]
    stsc = (b"\x00\x00\x00\x00" + struct.pack(">I", len(stsc_runs))
            + b"".join(struct.pack(">III", fc, n, 1) for fc, n in stsc_runs))
    if use_co64:
        co = box(b"co64", b"\x00\x00\x00\x00"
                 + struct.pack(">I", len(offsets))
                 + b"".join(struct.pack(">Q", o) for o in offsets))
    else:
        co = box(b"stco", b"\x00\x00\x00\x00"
                 + struct.pack(">I", len(offsets))
                 + b"".join(struct.pack(">I", o) for o in offsets))
    stbl = box(b"stbl", box(b"stsd", stsd) + box(b"stts", stts)
               + box(b"stsc", stsc) + box(b"stsz", stsz) + co)
    minf = box(b"minf", stbl)
    mdia = box(b"mdia", box(b"mdhd", mdhd) + box(b"hdlr", hdlr) + minf)
    trak = box(b"trak", box(b"tkhd", tkhd) + mdia)
    moov = box(b"moov", box(b"mvhd", mvhd) + trak)
    return ftyp + mdat + moov


# ---------------------------------------------------------------------------
# Spark surface (Arrow-batched mapInPandas, no shuffle)


def fetch_video_bytes(media_spans: DataFrame) -> DataFrame:
    """Resolve media refs -> binary MP4 payloads (the
    :func:`.multimodal._fetch` STUB): deterministic REAL ISO-BMFF byte
    streams synthesised from the ref (:func:`_synth_mp4`), so the
    downstream box walk + sample-table math run on genuine layouts."""
    return _fetch(media_spans, _synth_mp4)


_META = ("brand", "width", "height", "timescale", "duration", "n_frames",
         "fps", "duration_ms")
_VIDEO_META_SCHEMA = (
    "doc_id string, span_idx int, media_ref string, brand string, "
    "width int, height int, timescale int, duration long, "
    "n_frames int, fps double, duration_ms double, n_bytes long"
)


def decode_video_meta(video_with_bytes: DataFrame) -> DataFrame:
    """Decode binary MP4 payloads -> per-payload container metadata.

    One :func:`.multimodal._map_payloads` stage; each payload is parsed
    with the real box walker (:func:`parse_mp4_header`).
    """

    def decode(p: bytes):
        h = parse_mp4_header(p)
        return [(*(h[c] for c in _META), len(p))]

    return _map_payloads(video_with_bytes, decode, _VIDEO_META_SCHEMA)


_FRAME_SCHEMA = (
    "doc_id string, span_idx int, media_ref string, "
    "n_total int, frame_idx int, frame_bytes binary"
)


def sample_video_frames(video_with_bytes: DataFrame,
                        n_frames: int = 4) -> DataFrame:
    """Uniform frame sampling through the REAL MP4 sample tables — one
    output row per sampled frame: (doc_id, span_idx, media_ref,
    n_total, frame_idx, frame_bytes).

    Picks ``n = min(n_frames, n_total)`` evenly spaced decode-order
    samples (``floor(i * n_total / n)``, ``i < n``: every frame once
    when the clip is shorter than the ask) and slices each frame's payload out of ``mdat`` at the
    stsz/stsc/stco-derived (offset, size). One
    :func:`.multimodal._map_payloads` stage: one payload row in,
    ≤ ``n_frames`` rows out, no shuffle.
    """
    if n_frames < 1:
        raise ValueError(f"n_frames must be >= 1, got {n_frames}")

    def frames(p: bytes):
        table = mp4_frame_table(p)
        total = len(table)
        n_eff = min(n_frames, total)
        picks = [i * total // n_eff for i in range(n_eff)]
        out = []
        for fi in picks:
            off, size = table[fi]
            out.append((total, fi, p[off:off + size]))
        return out

    return _map_payloads(video_with_bytes, frames, _FRAME_SCHEMA)


def video_feature_pipeline(docs: DataFrame) -> DataFrame:
    """documents -> media spans -> MP4 bytes -> container metadata.

    The video twin of :func:`.multimodal.media_feature_pipeline`:
    span extraction is pure Catalyst; fetch + decode are Arrow-batched
    ``mapInPandas`` stages that scale by partition.
    """
    from ..sources.documents import extract_media_spans

    spans = extract_media_spans(docs)
    with_bytes = fetch_video_bytes(
        spans.select("doc_id", "span_idx", "media_ref"))
    return decode_video_meta(with_bytes)
