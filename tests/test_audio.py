"""Audio (WAV/PCM) decode + feature tests.

Truth strategy: payloads are synthesised from closed-form signals, so
every feature has an ANALYTIC expected value — a pure sine of amplitude
A over integer cycles has rms = A/sqrt(2), zcr = 2f crossings/s, and a
spectral centroid at f — rather than an engine-vs-engine comparison.
"""

import math
import struct

import numpy as np
import pytest

from geodistpy_spark.textops.audio import (
    _synth_wav,
    audio_feature_pipeline,
    audio_features,
    decode_audio,
    decode_wav,
    fetch_audio_bytes,
    parse_wav_header,
    sample_audio_windows,
)


def _sine_wav(sr=16000, n=16000, cycles=440, amp=0.5, bits=16, ch=1,
              tag=None, extra_chunk=False):
    """Hand-built WAV: amp * sin(2*pi*cycles*t/n), integer cycles."""
    t = np.arange(n, dtype=np.float64)
    mono = amp * np.sin(2 * math.pi * cycles * t / n)
    x = np.repeat(mono[:, None], ch, axis=1)
    if bits == 8:
        raw = (np.clip(np.round(x * 128.0 + 128.0), 0, 255)
               .astype(np.uint8).tobytes())
        tag = tag or 1
    elif bits == 16:
        raw = np.clip(np.round(x * 32768.0), -32768, 32767).astype("<i2").tobytes()
        tag = tag or 1
    elif bits == 24:
        v = np.clip(np.round(x * (1 << 23)), -(1 << 23), (1 << 23) - 1)
        v = v.astype(np.int32).ravel()
        b = np.empty((v.size, 3), dtype=np.uint8)
        b[:, 0] = v & 0xFF
        b[:, 1] = (v >> 8) & 0xFF
        b[:, 2] = (v >> 16) & 0xFF
        raw = b.tobytes()
        tag = tag or 1
    elif bits == 32 and tag == 3:
        raw = x.astype("<f4").tobytes()
    else:
        raw = np.clip(np.round(x * (1 << 31)), -(1 << 31), (1 << 31) - 1) \
            .astype("<i4").tobytes()
        tag = tag or 1
    ba = ch * (bits // 8)
    fmt = struct.pack("<HHIIHH", tag, ch, sr, sr * ba, ba, bits)
    body = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    if extra_chunk:  # LIST chunk between fmt and data must be skipped
        body += b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"  # odd size -> pad
    body += b"data" + struct.pack("<I", len(raw)) + raw
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body


# ---------------------------------------------------------------- kernels

def test_header_roundtrip_all_depths():
    for bits, tag, codec in [(8, 1, "pcm"), (16, 1, "pcm"), (24, 1, "pcm"),
                             (32, 1, "pcm"), (32, 3, "float")]:
        p = _sine_wav(sr=8000, n=4000, bits=bits, ch=2, tag=tag)
        h = parse_wav_header(p)
        assert (h["codec"], h["bits"], h["n_channels"],
                h["sample_rate"], h["n_samples"]) == (codec, bits, 2, 8000, 4000)


def test_decode_sine_rms_and_zcr_exact():
    # 440 cycles over 1 s at 16 kHz, amp 0.5: rms = 0.5/sqrt(2), zcr = 880/s
    for bits, tag in [(16, 1), (24, 1), (32, 3)]:
        p = _sine_wav(bits=bits, tag=tag)
        sr, x = decode_wav(p)
        f = audio_features(x, sr)
        assert sr == 16000 and x.shape == (16000, 1)
        assert f["rms"] == pytest.approx(0.5 / math.sqrt(2), rel=2e-3)
        assert f["zcr_hz"] == pytest.approx(880.0, rel=2e-3)
        assert f["centroid_hz"] == pytest.approx(440.0, rel=0.05)
        assert f["rolloff_hz"] == pytest.approx(440.0, rel=0.05)
        assert f["duration_ms"] == pytest.approx(1000.0)
        assert f["silence_ratio"] == 0.0


def test_decode_8bit_quantization_tolerance():
    p = _sine_wav(bits=8)
    sr, x = decode_wav(p)
    f = audio_features(x, sr)
    # 8-bit quantization: looser tolerance but same analytic center
    assert f["rms"] == pytest.approx(0.5 / math.sqrt(2), rel=2e-2)


def test_stereo_mean_and_extra_chunk_skip():
    p = _sine_wav(ch=2, extra_chunk=True)
    h = parse_wav_header(p)
    assert h["n_channels"] == 2 and h["n_samples"] == 16000
    sr, x = decode_wav(p)
    assert x.shape == (16000, 2)
    # identical channels -> mono mean preserves rms
    f = audio_features(x, sr)
    assert f["rms"] == pytest.approx(0.5 / math.sqrt(2), rel=2e-3)


def test_silence_ratio_half():
    # first half sine, second half zeros -> silence_ratio = 0.5
    sr, n = 16000, 16000
    t = np.arange(n // 2)
    mono = np.concatenate([0.5 * np.sin(2 * math.pi * 440 * t / n),
                           np.zeros(n // 2)])
    f = audio_features(mono[:, None], sr)
    assert f["silence_ratio"] == pytest.approx(0.5, abs=0.02)


def test_malformed_payloads_raise():
    with pytest.raises(ValueError):
        parse_wav_header(b"notawav" * 4)
    with pytest.raises(ValueError):
        parse_wav_header(b"RIFF\x10\x00\x00\x00WAVE")  # no fmt/data
    # unsupported codec tag (mu-law = 7)
    p = _sine_wav(bits=16, tag=7)
    with pytest.raises(ValueError):
        parse_wav_header(p)


def test_empty_audio_features():
    f = audio_features(np.zeros((0, 1)), 16000)
    assert f["duration_ms"] == 0.0 and f["silence_ratio"] == 1.0


def test_synth_wav_is_decodable_and_deterministic():
    for ref in ["media://a/1", "media://b/2", "audio://x"]:
        p1, p2 = _synth_wav(ref), _synth_wav(ref)
        assert p1 == p2
        h = parse_wav_header(p1)
        sr, x = decode_wav(p1)
        assert x.shape == (h["n_samples"], h["n_channels"])
        assert h["n_samples"] >= 1024
        f = audio_features(x, sr)
        assert f["rms"] > 0.1 and f["silence_ratio"] < 0.2


# ---------------------------------------------------------------- Spark

def test_decode_audio_matches_local_kernel(spark, docs):
    out = audio_feature_pipeline(docs.limit(40))
    rows = out.collect()
    assert rows
    for r in rows:
        p = _synth_wav(r["media_ref"])
        h = parse_wav_header(p)
        sr, x = decode_wav(p)
        f = audio_features(x, sr)
        assert (r["sample_rate"], r["n_channels"], r["bits"],
                r["n_samples"]) == (h["sample_rate"], h["n_channels"],
                                    h["bits"], h["n_samples"])
        assert r["rms"] == pytest.approx(f["rms"], rel=1e-9)
        assert r["centroid_hz"] == pytest.approx(f["centroid_hz"], rel=1e-9)
        assert r["n_bytes"] == len(p)


def test_sample_audio_windows_count_and_values(spark, docs):
    from geodistpy_spark.sources.documents import extract_media_spans

    spans = extract_media_spans(docs.limit(40)).select(
        "doc_id", "span_idx", "media_ref")
    wb = fetch_audio_bytes(spans)
    wins = sample_audio_windows(wb, win_ms=50, hop_ms=25).collect()
    assert wins
    by_ref = {}
    for w in wins:
        by_ref.setdefault(w["media_ref"], []).append(w)
    for ref, ws in by_ref.items():
        sr, x = decode_wav(_synth_wav(ref))
        win, hop = sr * 50 // 1000, sr * 25 // 1000
        n = x.shape[0]
        expect = 0 if n < win else (n - win) // hop + 1
        assert len(ws) == expect
        ws.sort(key=lambda w: w["win_idx"])
        # spot-check first window rms against the local kernel
        seg = x.mean(axis=1)[:win]
        assert ws[0]["rms"] == pytest.approx(
            float(np.sqrt(np.mean(seg * seg))), rel=1e-9)
        assert ws[0]["t0_ms"] == 0.0
        assert ws[0]["t1_ms"] == pytest.approx(1000.0 * win / sr)


def test_decode_audio_empty_input(spark, docs):
    from geodistpy_spark.sources.documents import extract_media_spans

    spans = extract_media_spans(docs.limit(0)).select(
        "doc_id", "span_idx", "media_ref")
    assert decode_audio(fetch_audio_bytes(spans)).count() == 0
    assert sample_audio_windows(fetch_audio_bytes(spans)).count() == 0


def test_audio_null_payload_raises_parser_error(spark):
    # a null payload surfaces the RIFF parser's documented
    # ValueError, not a bytes(None) TypeError from the executor
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PythonException

    mb = spark.createDataFrame(
        [("d1", 0, "r1", None)],
        "doc_id string, span_idx int, media_ref string, payload binary")
    with pytest.raises((PythonException, Py4JJavaError)) as ei:
        decode_audio(mb).count()
    assert "ValueError" in str(ei.value)
