"""WAV / PCM audio decode + feature extraction — pure stdlib struct +
numpy, no codec libraries.

The audio half of the multimodal surface (images live in
:mod:`.pixels` / :mod:`.multimodal`): RIFF/WAVE container walking and
sample decode are implemented from the public WAVE format spec —

- **containers**: RIFF chunk walk (``fmt `` before ``data``, unknown
  chunks skipped, word-aligned), formats PCM (1) and IEEE float (3),
  WAVE_FORMAT_EXTENSIBLE (0xFFFE) resolved via the SubFormat GUID.
- **sample widths**: unsigned 8-bit, signed little-endian 16/24/32-bit
  PCM, and 32/64-bit IEEE float; interleaved multi-channel.
- **features** (numpy, per payload): duration, RMS, peak, zero-crossing
  rate, spectral centroid / 85 % rolloff (rFFT of the channel mean),
  silence ratio — the quality signals an audio-curation pipeline
  filters on.

Spark surface, on the image path's plumbing (:mod:`.multimodal`
``_fetch`` / ``_map_payloads``): a fetch stub that synthesises
deterministic REAL WAV payloads from the span ref (so the decode runs
on genuine byte layouts and tests can assert analytic truths: a pure
sine decodes to RMS = A/sqrt(2), ZCR = 2f, centroid ~= f), a
``decode_audio`` stage, and a window sampler (``sample_audio_windows``)
that turns one payload row into per-window feature rows for
segment-level curation.

Parity note: the reference engine (/root/reference/geodistpy) has no
multimodal surface at all; this module extends it for training-data
pipelines (SURVEY.md §2 LLM additions), so there is no reference file
to cite.
"""

from __future__ import annotations

import hashlib
import math
import struct

import numpy as np
from pyspark.sql import DataFrame

from .multimodal import _fetch, _map_payloads

__all__ = [
    "parse_wav_header",
    "decode_wav",
    "audio_features",
    "fetch_audio_bytes",
    "decode_audio",
    "sample_audio_windows",
    "audio_feature_pipeline",
]

# WAVE_FORMAT_EXTENSIBLE SubFormat GUID prefixes (first 2 bytes are the
# wrapped format tag; the remainder is the fixed KSDATAFORMAT suffix)
_EXTENSIBLE_SUFFIX = bytes.fromhex("000000001000800000aa00389b71")

_SILENCE_DB = -40.0  # frames below this (rel. full scale) count as silent


def _walk_riff_chunks(p: bytes):
    """Yield (chunk_id, offset, size) for every top-level RIFF chunk."""
    if len(p) < 12 or p[:4] != b"RIFF" or p[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    i = 12
    n = len(p)
    while i + 8 <= n:
        cid = p[i: i + 4]
        (size,) = struct.unpack("<I", p[i + 4: i + 8])
        yield cid, i + 8, size
        i += 8 + size + (size & 1)  # chunks are word-aligned


def parse_wav_header(p: bytes) -> dict:
    """Parse a WAV payload's ``fmt `` + ``data`` chunks.

    Returns ``{"codec": "pcm"|"float", "n_channels", "sample_rate",
    "bits", "n_samples", "data_off", "data_len"}``; raises ValueError
    on non-WAV or malformed payloads.
    """
    fmt = None
    data = None
    for cid, off, size in _walk_riff_chunks(p):
        if cid == b"fmt " and fmt is None:
            if size < 16 or off + 16 > len(p):
                raise ValueError("fmt chunk truncated")
            tag, ch, sr, _br, _ba, bits = struct.unpack(
                "<HHIIHH", p[off: off + 16])
            if tag == 0xFFFE:  # WAVE_FORMAT_EXTENSIBLE
                if size < 40 or off + 40 > len(p):
                    raise ValueError("extensible fmt chunk truncated")
                sub = p[off + 24: off + 40]
                if sub[2:] != _EXTENSIBLE_SUFFIX:
                    raise ValueError("unknown extensible subformat")
                tag = struct.unpack("<H", sub[:2])[0]
            if tag not in (1, 3):
                raise ValueError(f"unsupported WAV format tag {tag}")
            fmt = (tag, ch, sr, bits)
        elif cid == b"data" and data is None:
            data = (off, min(size, len(p) - off))
        if fmt is not None and data is not None:
            break
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt or data chunk")
    tag, ch, sr, bits = fmt
    if ch < 1 or sr < 1:
        raise ValueError("WAV fmt has zero channels or sample rate")
    if tag == 1 and bits not in (8, 16, 24, 32):
        raise ValueError(f"unsupported PCM bit depth {bits}")
    if tag == 3 and bits not in (32, 64):
        raise ValueError(f"unsupported float bit depth {bits}")
    frame_bytes = ch * (bits // 8)
    return {
        "codec": "float" if tag == 3 else "pcm",
        "n_channels": ch,
        "sample_rate": sr,
        "bits": bits,
        "n_samples": data[1] // frame_bytes,
        "data_off": data[0],
        "data_len": data[1],
    }


def decode_wav(p: bytes) -> tuple[int, np.ndarray]:
    """Decode a WAV payload -> ``(sample_rate, float64 (n, ch) in [-1, 1])``."""
    h = parse_wav_header(p)
    return h["sample_rate"], _wav_samples(p, h)


def _wav_samples(p: bytes, h: dict) -> np.ndarray:
    """The samples of ``p`` as float64 ``(n, ch)`` in [-1, 1], given its
    parsed header ``h``."""
    ch, bits = h["n_channels"], h["bits"]
    n = h["n_samples"]
    raw = p[h["data_off"]: h["data_off"] + n * ch * (bits // 8)]
    if h["codec"] == "float":
        dt = "<f4" if bits == 32 else "<f8"
        x = np.frombuffer(raw, dtype=dt).astype(np.float64)
    elif bits == 8:
        x = (np.frombuffer(raw, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
    elif bits == 16:
        x = np.frombuffer(raw, dtype="<i2").astype(np.float64) / 32768.0
    elif bits == 24:
        b = np.frombuffer(raw, dtype=np.uint8).reshape(-1, 3)
        v = (b[:, 0].astype(np.int32)
             | (b[:, 1].astype(np.int32) << 8)
             | (b[:, 2].astype(np.int32) << 16))
        v = np.where(v >= 1 << 23, v - (1 << 24), v)
        x = v.astype(np.float64) / float(1 << 23)
    else:  # 32-bit PCM
        x = np.frombuffer(raw, dtype="<i4").astype(np.float64) / float(1 << 31)
    return x.reshape(n, ch)


def audio_features(x: np.ndarray, sr: int) -> dict:
    """Per-payload scalar features from decoded samples ``(n, ch)``.

    All values are analytic properties a test can pin: a pure sine of
    amplitude A at frequency f gives rms = A/sqrt(2) (integer cycles),
    zcr_hz = 2f, centroid_hz ~= f.
    """
    n = x.shape[0]
    if n == 0:
        return {"duration_ms": 0.0, "rms": 0.0, "peak": 0.0, "zcr_hz": 0.0,
                "centroid_hz": 0.0, "rolloff_hz": 0.0, "silence_ratio": 1.0}
    mono = x.mean(axis=1)
    rms = float(np.sqrt(np.mean(mono * mono)))
    peak = float(np.max(np.abs(mono)))
    # zero crossings per second (sign changes; exact zeros are not crossings)
    s = np.signbit(mono)
    zcr = float(np.count_nonzero(s[1:] != s[:-1])) * sr / n
    # spectral centroid / rolloff over the magnitude spectrum
    mag = np.abs(np.fft.rfft(mono))
    mag[0] = 0.0  # DC is not pitch content
    freqs = np.fft.rfftfreq(n, d=1.0 / sr)
    tot = float(mag.sum())
    if tot > 0.0:
        centroid = float((freqs * mag).sum() / tot)
        cum = np.cumsum(mag)
        rolloff = float(freqs[int(np.searchsorted(cum, 0.85 * tot))])
    else:
        centroid = rolloff = 0.0
    # silence ratio over 10 ms frames
    frame = max(1, sr // 100)
    n_fr = n // frame
    if n_fr:
        fr_rms = np.sqrt(
            np.mean(mono[: n_fr * frame].reshape(n_fr, frame) ** 2, axis=1))
        thresh = 10.0 ** (_SILENCE_DB / 20.0)
        silence = float(np.count_nonzero(fr_rms < thresh)) / n_fr
    else:
        silence = 0.0
    return {"duration_ms": 1000.0 * n / sr, "rms": rms, "peak": peak,
            "zcr_hz": zcr, "centroid_hz": centroid, "rolloff_hz": rolloff,
            "silence_ratio": silence}


# deterministic synth parameters (all derived from sha256(ref) so any
# oracle or test can reproduce them)
_SYNTH_RATES = (8000, 16000, 22050, 44100)
_SYNTH_BITS = (16, 16, 8, 24, 32)  # 32 = IEEE float; 16 twice -> most common


def _synth_wav(ref: str) -> bytes:
    """Deterministic REAL WAV payload for the fetch stub: two summed
    sines whose rate/depth/channels/frequencies/amplitudes derive from
    sha256(ref). Integer cycle counts are enforced so RMS/ZCR equal
    their analytic values exactly (up to quantization).
    """
    h = hashlib.sha256(ref.encode()).digest()
    sr = _SYNTH_RATES[h[0] % 4]
    bits = _SYNTH_BITS[h[1] % 5]
    ch = 1 + h[2] % 2
    n = 1024 + (h[3] | (h[4] << 8)) % 3072  # 1024..4095 frames
    # integer number of cycles in n frames keeps the sine periodic
    cycles1 = 4 + h[5] % 60
    cycles2 = 70 + h[6] % 120
    a1 = 0.30 + (h[7] % 100) / 400.0   # 0.30..0.5475
    a2 = 0.05 + (h[8] % 50) / 1000.0   # 0.05..0.099
    t = np.arange(n, dtype=np.float64)
    mono = (a1 * np.sin(2 * math.pi * cycles1 * t / n)
            + a2 * np.sin(2 * math.pi * cycles2 * t / n))
    x = np.repeat(mono[:, None], ch, axis=1)
    if bits == 8:
        raw = (np.clip(np.round(x * 128.0 + 128.0), 0, 255)
               .astype(np.uint8).tobytes())
        tag = 1
    elif bits == 16:
        raw = (np.clip(np.round(x * 32768.0), -32768, 32767)
               .astype("<i2").tobytes())
        tag = 1
    elif bits == 24:
        v = np.clip(np.round(x * float(1 << 23)), -(1 << 23), (1 << 23) - 1)
        v = v.astype(np.int32).ravel()
        b = np.empty((v.size, 3), dtype=np.uint8)
        b[:, 0] = v & 0xFF
        b[:, 1] = (v >> 8) & 0xFF
        b[:, 2] = (v >> 16) & 0xFF
        raw = b.tobytes()
        tag = 1
    else:  # 32-bit IEEE float
        raw = x.astype("<f4").tobytes()
        tag = 3
    ba = ch * (bits // 8)
    fmt = struct.pack("<HHIIHH", tag, ch, sr, sr * ba, ba, bits)
    body = b"fmt " + struct.pack("<I", len(fmt)) + fmt \
        + b"data" + struct.pack("<I", len(raw)) + raw
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body


def fetch_audio_bytes(media_spans: DataFrame) -> DataFrame:
    """Resolve media refs -> binary WAV payloads (the
    :func:`.multimodal._fetch` STUB): deterministic REAL RIFF/WAVE byte
    streams synthesised from the ref (:func:`_synth_wav`), so the
    downstream chunk walk + sample decode run on genuine layouts."""
    return _fetch(media_spans, _synth_wav)


_FEATURES = ("duration_ms", "rms", "peak", "zcr_hz", "centroid_hz",
             "rolloff_hz", "silence_ratio")
_DECODED_AUDIO_SCHEMA = (
    "doc_id string, span_idx int, media_ref string, codec string, "
    "n_channels int, sample_rate int, bits int, n_samples long, "
    "duration_ms double, rms double, peak double, zcr_hz double, "
    "centroid_hz double, rolloff_hz double, silence_ratio double, "
    "n_bytes long"
)


def decode_audio(audio_with_bytes: DataFrame) -> DataFrame:
    """Decode binary WAV payloads -> per-payload audio features.

    One :func:`.multimodal._map_payloads` stage; each payload is decoded
    with the real RIFF walker (header parsed once) and featurized with
    :func:`audio_features`. A malformed (or null) payload raises the
    parser's ValueError from the executor.
    """

    def decode(p: bytes):
        hdr = parse_wav_header(p)
        sr = hdr["sample_rate"]
        f = audio_features(_wav_samples(p, hdr), sr)
        return [(hdr["codec"], hdr["n_channels"], sr, hdr["bits"],
                 hdr["n_samples"], *(f[c] for c in _FEATURES), len(p))]

    return _map_payloads(audio_with_bytes, decode, _DECODED_AUDIO_SCHEMA)


_WINDOW_SCHEMA = (
    "doc_id string, span_idx int, media_ref string, win_idx int, "
    "t0_ms double, t1_ms double, rms double, zcr_hz double, is_silent boolean"
)


def sample_audio_windows(audio_with_bytes: DataFrame, win_ms: int = 100,
                         hop_ms: int | None = None) -> DataFrame:
    """Segment each payload into fixed windows -> one row per window.

    ``win_ms``-long windows every ``hop_ms`` (default: non-overlapping),
    each with its own RMS / ZCR / silence flag — the shape a
    segment-level curation filter (e.g. trim leading silence, drop dead
    air) consumes. One :func:`.multimodal._map_payloads` stage: one
    payload row in, ``floor((n - win) / hop) + 1`` rows out, no
    shuffle.
    """
    hop_ms = win_ms if hop_ms is None else hop_ms
    if win_ms <= 0 or hop_ms <= 0:
        raise ValueError("win_ms and hop_ms must be positive")
    thresh = 10.0 ** (_SILENCE_DB / 20.0)

    def windows(p: bytes):
        sr, x = decode_wav(p)
        mono = x.mean(axis=1)
        win = max(1, sr * win_ms // 1000)
        hop = max(1, sr * hop_ms // 1000)
        n = mono.shape[0]
        n_win = 0 if n < win else (n - win) // hop + 1
        out = []
        for w in range(n_win):
            seg = mono[w * hop: w * hop + win]
            rms = float(np.sqrt(np.mean(seg * seg)))
            s = np.signbit(seg)
            zcr = float(np.count_nonzero(s[1:] != s[:-1])) * sr / win
            out.append((w, 1000.0 * w * hop / sr,
                        1000.0 * (w * hop + win) / sr, rms, zcr,
                        rms < thresh))
        return out

    return _map_payloads(audio_with_bytes, windows, _WINDOW_SCHEMA)


def audio_feature_pipeline(docs: DataFrame) -> DataFrame:
    """documents -> media spans -> WAV bytes -> decoded audio features.

    The audio twin of :func:`.multimodal.media_feature_pipeline`:
    span extraction is pure Catalyst; fetch + decode are Arrow-batched
    ``mapInPandas`` stages that scale by partition.
    """
    from ..sources.documents import extract_media_spans

    spans = extract_media_spans(docs)
    with_bytes = fetch_audio_bytes(
        spans.select("doc_id", "span_idx", "media_ref"))
    return decode_audio(with_bytes)
