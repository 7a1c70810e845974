"""MP4 / ISO-BMFF container decode + frame-extraction tests.

Truth strategy: payloads are synthesised with known box parameters
(brand, dimensions, frame count, fps, chunking, both FullBox versions,
both chunk-offset widths) and sha256-derived frame contents, so every
parsed field and every extracted frame byte has an exact expected
value — rather than an engine-vs-engine comparison.
"""

import hashlib
import struct

import pytest

from geodistpy_spark.textops.video import (
    _SYNTH_BRANDS,
    _SYNTH_FPS,
    _synth_frame,
    _synth_mp4,
    decode_video_meta,
    fetch_video_bytes,
    find_box,
    mp4_frame_table,
    parse_mp4_header,
    sample_video_frames,
    video_feature_pipeline,
    walk_boxes,
)


def _params(ref: str) -> dict:
    """Recompute the synth parameters exactly as _synth_mp4 derives them."""
    d = hashlib.sha256(b"v:" + ref.encode()).digest()
    delta = 100 + (d[2] % 9) * 50
    fps = _SYNTH_FPS[d[3] % 4]
    return {
        "brand": _SYNTH_BRANDS[d[0] % 3].decode(),
        "n_frames": 3 + d[1] % 14,
        "delta": delta,
        "fps": fps,
        "timescale": delta * fps,
        "width": 16 + (d[4] + 256 * d[5]) % 4080,
        "height": 16 + (d[6] + 256 * d[7]) % 2160,
        "v1": bool(d[8] & 1),
        "co64": bool(d[8] & 2),
        "sizes": [36 + ((d[9] + 11 * i) % 100)
                  for i in range(3 + d[1] % 14)],
    }


class TestParser:
    def test_header_matches_synth_params(self):
        for n in range(200):
            ref = f"s3://media/clip_{n}.mp4"
            h = parse_mp4_header(_synth_mp4(ref))
            e = _params(ref)
            assert h["brand"] == e["brand"]
            assert h["n_frames"] == e["n_frames"]
            assert h["timescale"] == e["timescale"]
            assert (h["width"], h["height"]) == (e["width"], e["height"])
            assert h["fps"] == float(e["fps"])
            assert h["duration"] == e["n_frames"] * e["delta"]
            assert h["duration_ms"] == (
                1000.0 * (e["n_frames"] * e["delta"]) / e["timescale"])

    def test_both_fullbox_versions_and_offset_widths_covered(self):
        seen = set()
        for n in range(64):
            e = _params(f"ref{n}")
            seen.add((e["v1"], e["co64"]))
        assert len(seen) == 4  # v0/v1 x stco/co64 all exercised

    def test_frame_table_offsets_and_bytes(self):
        for n in range(100):
            ref = f"clip{n}"
            p = _synth_mp4(ref)
            e = _params(ref)
            table = mp4_frame_table(p)
            assert [s for _, s in table] == e["sizes"]
            for i, (off, size) in enumerate(table):
                assert p[off:off + size] == _synth_frame(ref, i, size)
                # first 32 bytes are exactly the per-frame digest
                assert p[off:off + 32] == hashlib.sha256(
                    f"{ref}:{i}".encode()).digest()

    def test_walk_boxes_largesize_and_size0(self):
        inner = struct.pack(">I", 8 + 3) + b"abcd" + b"xyz"
        large = (struct.pack(">I", 1) + b"big1"
                 + struct.pack(">Q", 16 + 5) + b"hello")
        tail = struct.pack(">I", 0) + b"tail" + b"rest-of-file"
        boxes = list(walk_boxes(inner + large + tail))
        assert [b[0] for b in boxes] == [b"abcd", b"big1", b"tail"]
        p = inner + large + tail
        assert p[boxes[1][1]:boxes[1][2]] == b"hello"
        assert p[boxes[2][1]:boxes[2][2]] == b"rest-of-file"

    def test_malformed_payloads_raise(self):
        good = _synth_mp4("x")
        for bad in (b"", b"\x00\x00\x00\x08free", good[:40],
                    b"\x00\x00\x00\xffabcd"):
            with pytest.raises(ValueError):
                parse_mp4_header(bad)
        with pytest.raises(ValueError):
            mp4_frame_table(b"\x00\x00\x00\x08free")

    def test_no_video_track_raises(self):
        # moov with an audio-handler track only
        p = _synth_mp4("x")
        q = bytearray(p)
        # flip the hdlr handler to 'soun'
        i = q.find(b"vide")
        assert i > 0
        q[i:i + 4] = b"soun"
        with pytest.raises(ValueError, match="no video"):
            parse_mp4_header(bytes(q))

    def test_fuzz_never_crashes_with_non_value_error(self):
        # adversarial payloads (random bytes, truncations, mutations of
        # a valid file) must surface as ValueError — never struct.error
        # / IndexError / MemoryError (a poisoned stsz count must not
        # allocate) — so one dirty doc can't kill an executor batch
        import random
        rng = random.Random(1234)
        base = _synth_mp4("fuzz-seed")
        for trial in range(3000):
            mode = trial % 3
            if mode == 0:
                p = bytes(rng.randrange(256)
                          for _ in range(rng.randrange(0, 200)))
            elif mode == 1:
                p = base[:rng.randrange(0, len(base))]
            else:
                b = bytearray(base)
                for _ in range(rng.randrange(1, 6)):
                    b[rng.randrange(len(b))] = rng.randrange(256)
                p = bytes(b)
            for fn in (parse_mp4_header, mp4_frame_table):
                try:
                    fn(p)
                except ValueError:
                    pass

    def test_lying_mvhd_size_raises_not_misreads(self):
        # shrink mvhd's size so its fixed fields would land in the
        # following box — must raise, not return the neighbor's bytes
        # as timescale/duration
        p = bytearray(_synth_mp4("mvhd-lie"))
        i = bytes(p).find(b"mvhd")
        assert i > 0
        p[i - 4:i] = (8 + 4).to_bytes(4, "big")  # header + 4 payload bytes
        with pytest.raises(ValueError, match="mvhd"):
            parse_mp4_header(bytes(p))

    def test_out_of_payload_chunk_offset_raises(self):
        # stco pointing past the payload: slicing would clamp silently,
        # shipping empty frame bytes — the table build must raise
        ref = "stco-lie"
        p = bytearray(_synth_mp4(ref))
        i = bytes(p).find(b"stco")
        if i < 0:
            i = bytes(p).find(b"co64")
            off_pos = i + 4 + 4 + 4  # type + version/flags + count
            p[off_pos:off_pos + 8] = (len(p) + 1000).to_bytes(8, "big")
        else:
            off_pos = i + 4 + 4 + 4
            p[off_pos:off_pos + 4] = (len(p) + 1000).to_bytes(4, "big")
        with pytest.raises(ValueError, match="overruns the payload"):
            mp4_frame_table(bytes(p))

    def test_poisoned_sample_count_raises_without_allocating(self):
        # stsz declaring 2^31 samples inside a tiny box
        p = bytearray(_synth_mp4("poison"))
        i = bytes(p).find(b"stsz")
        assert i > 0
        fixed_off = i + 4 + 4  # after type + version/flags
        p[fixed_off:fixed_off + 4] = (1000).to_bytes(4, "big")  # fixed size
        p[fixed_off + 4:fixed_off + 8] = (1 << 31).to_bytes(4, "big")
        with pytest.raises(ValueError, match="sample count"):
            mp4_frame_table(bytes(p))

    def test_find_box_nested(self):
        p = _synth_mp4("y")
        stbl = find_box(p, [b"moov", b"trak", b"mdia", b"minf", b"stbl"])
        assert stbl is not None
        assert find_box(p, [b"moov", b"nope"]) is None


class TestSpark:
    @pytest.fixture(scope="class")
    def video_meta(self, spark, docs):
        return video_feature_pipeline(docs).cache()

    def test_pipeline_parses_all_spans(self, spark, docs, video_meta):
        from geodistpy_spark.sources.documents import extract_media_spans
        n_spans = extract_media_spans(docs).count()
        rows = video_meta.collect()
        assert len(rows) == n_spans and n_spans > 0
        for r in rows:
            e = _params(r.media_ref)
            assert r.brand == e["brand"]
            assert r.n_frames == e["n_frames"]
            assert (r.width, r.height) == (e["width"], e["height"])
            assert r.fps == float(e["fps"])
            assert r.timescale == e["timescale"]

    def test_sample_frames_real_bytes(self, spark, docs):
        from geodistpy_spark.sources.documents import extract_media_spans
        spans = extract_media_spans(docs).select(
            "doc_id", "span_idx", "media_ref").limit(50)
        frames = sample_video_frames(fetch_video_bytes(spans), n_frames=4)
        rows = frames.collect()
        assert rows
        per_span: dict = {}
        for r in rows:
            assert bytes(r.frame_bytes[:32]) == hashlib.sha256(
                f"{r.media_ref}:{r.frame_idx}".encode()).digest()
            e = _params(r.media_ref)
            assert r.n_total == e["n_frames"]
            assert len(r.frame_bytes) == e["sizes"][r.frame_idx]
            per_span.setdefault((r.doc_id, r.span_idx), []).append(r.frame_idx)
        refs = {(r.doc_id, r.span_idx): r.media_ref for r in rows}
        for key, idxs in per_span.items():
            n = _params(refs[key])["n_frames"]
            m = min(4, n)
            assert sorted(idxs) == [i * n // m for i in range(m)]
        # a clip shorter than n_frames: every frame exactly once
        allf: dict = {}
        for r in sample_video_frames(fetch_video_bytes(spans),
                                     n_frames=99).collect():
            allf.setdefault((r.doc_id, r.span_idx, r.media_ref),
                            []).append(r.frame_idx)
        assert allf
        for (_, _, ref), idxs in allf.items():
            assert sorted(idxs) == list(range(_params(ref)["n_frames"]))

    def test_streaming_video_decode_matches_batch(self, spark,
                                                  fixture_paths, tmp_path):
        # the whole fetch -> parse chain is stateless mapInPandas, so
        # it runs unchanged under readStream; gate the streamed result
        # against the batch pipeline (same rows, same parsed headers)
        import os
        import shutil

        from geodistpy_spark.sources.documents import extract_media_spans
        from geodistpy_spark.textops.video import decode_video_meta as dvm

        src = str(tmp_path / "vstream_in")
        os.makedirs(src, exist_ok=True)
        shutil.copy(fixture_paths["documents"],
                    os.path.join(src, "part-0.parquet"))
        docs_schema = spark.read.parquet(fixture_paths["documents"]).schema
        stream = spark.readStream.schema(docs_schema).parquet(src)
        spans = extract_media_spans(stream).select(
            "doc_id", "span_idx", "media_ref")
        meta = dvm(fetch_video_bytes(spans))
        assert meta.isStreaming
        q = (meta.writeStream.format("memory").queryName("video_stream")
             .outputMode("append").start())
        try:
            q.processAllAvailable()
            got = {(r.doc_id, r.span_idx):
                   (r.brand, r.width, r.height, r.n_frames)
                   for r in spark.sql(
                       "SELECT * FROM video_stream").collect()}
        finally:
            q.stop()
        batch = {(r.doc_id, r.span_idx):
                 (r.brand, r.width, r.height, r.n_frames)
                 for r in video_feature_pipeline(
                     spark.read.parquet(fixture_paths["documents"])
                 ).collect()}
        assert got == batch and len(got) > 0

    def test_null_payload_surfaces_value_error(self, spark):
        import pandas as pd
        pdf = pd.DataFrame({"doc_id": ["d0"], "span_idx": [0],
                            "media_ref": ["r0"], "payload": [None]})
        df = spark.createDataFrame(
            pdf, "doc_id string, span_idx int, media_ref string, payload binary")
        with pytest.raises(Exception, match="ftyp|ISO-BMFF"):
            decode_video_meta(df).collect()

    def test_n_frames_validation(self, spark, docs):
        from geodistpy_spark.sources.documents import extract_media_spans
        spans = extract_media_spans(docs).select(
            "doc_id", "span_idx", "media_ref")
        with pytest.raises(ValueError):
            sample_video_frames(fetch_video_bytes(spans), n_frames=0)
