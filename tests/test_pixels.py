"""Real pixel decoder gates (PNG / BMP / GIF).

Three independent layers of evidence:

1. **Round-trip**: tests/media_encoders.py implements the FORWARD
   direction of each format (PNG scanline filtering, BMP row packing,
   GIF LZW compression) from the public specs; decode(encode(img))
   must reproduce the exact pixel array. Filter vs unfilter and LZW
   compress vs decompress are distinct algorithms, so agreement is a
   two-sided gate.
2. **Committed goldens** (fixtures/media/*.bin + expected.npz): byte
   streams written once, decoded on every run — regression gate.
3. **Third-party bytes** (fixtures/media/thirdparty/): images encoded
   by real-world encoders (CPython's PSF-licensed idlelib icons and
   email test data — GIF87/89 LZW streams, libpng output, a
   BI_BITFIELDS BMP). Decoding these proves spec compliance beyond
   self-consistency; python.png and python.bmp are the SAME image
   through two unrelated encoders and must decode byte-identical.
"""

from __future__ import annotations

import os

import numpy as np
import pytest

from geodistpy_spark.textops.pixels import (
    decode_bmp,
    decode_gif,
    decode_jpeg,
    decode_pixels,
    decode_png,
    pixel_features,
)

from media_encoders import encode_bmp, encode_gif, encode_jpeg, encode_png

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_MEDIA = os.path.join(_REPO, "fixtures", "media")


def _img(h, w, seed=0):
    return np.random.default_rng(seed).integers(
        0, 256, size=(h, w, 3), dtype=np.uint8)


class TestPngRoundTrip:
    @pytest.mark.parametrize("ft", [0, 1, 2, 3, 4])
    def test_each_filter_type(self, ft):
        img = _img(9, 7, seed=ft)
        enc = encode_png(img, color_type=2, filters=[ft] * 9)
        assert np.array_equal(decode_png(enc), img)

    def test_mixed_filters_rgb(self):
        img = _img(33, 21, seed=42)
        assert np.array_equal(decode_png(encode_png(img)), img)

    def test_gray(self):
        g = np.random.default_rng(1).integers(0, 256, (14, 10), np.uint8)
        out = decode_png(encode_png(g, color_type=0))
        assert np.array_equal(out, np.repeat(g[:, :, None], 3, axis=2))

    def test_palette(self):
        pal = np.random.default_rng(2).integers(0, 256, (7, 3), np.uint8)
        idx = np.random.default_rng(3).integers(0, 7, (6, 11), np.uint8)
        out = decode_png(encode_png(idx, color_type=3, palette=pal))
        assert np.array_equal(out, pal[idx])

    def test_rgba_drops_alpha(self):
        rgba = np.random.default_rng(4).integers(0, 256, (5, 5, 4), np.uint8)
        assert np.array_equal(
            decode_png(encode_png(rgba, color_type=6)), rgba[:, :, :3])

    def test_gray_alpha(self):
        ga = np.random.default_rng(5).integers(0, 256, (6, 4, 2), np.uint8)
        out = decode_png(encode_png(ga, color_type=4))
        assert np.array_equal(out, np.repeat(ga[:, :, :1], 3, axis=2))

    def test_single_pixel_and_row(self):
        for shape in [(1, 1, 3), (1, 17, 3), (17, 1, 3)]:
            img = _img(*shape[:2], seed=9)
            assert np.array_equal(decode_png(encode_png(img)), img)

    def test_truncated_raises(self):
        enc = encode_png(_img(8, 8))
        with pytest.raises(ValueError):
            decode_png(enc[:40])


class TestBmpRoundTrip:
    def test_24bit_padded_rows(self):
        img = _img(5, 3, seed=6)  # stride 9 -> padded to 12
        assert np.array_equal(decode_bmp(encode_bmp(img, bpp=24)), img)

    def test_32bit_topdown(self):
        img = _img(4, 6, seed=7)
        assert np.array_equal(
            decode_bmp(encode_bmp(img, bpp=32, top_down=True)), img)

    def test_8bit_palette(self):
        pal = np.random.default_rng(8).integers(0, 256, (5, 3), np.uint8)
        idx = np.random.default_rng(9).integers(0, 5, (7, 7), np.uint8)
        out = decode_bmp(encode_bmp(idx, bpp=8, palette=pal))
        assert np.array_equal(out, pal[idx])


class TestGifRoundTrip:
    def test_plain(self):
        pal = np.random.default_rng(10).integers(0, 256, (9, 3), np.uint8)
        idx = np.random.default_rng(11).integers(0, 9, (13, 17), np.uint8)
        assert np.array_equal(decode_gif(encode_gif(idx, pal)), pal[idx])

    def test_interlaced(self):
        pal = np.random.default_rng(12).integers(0, 256, (6, 3), np.uint8)
        idx = np.random.default_rng(13).integers(0, 6, (21, 10), np.uint8)
        out = decode_gif(encode_gif(idx, pal, interlace=True))
        assert np.array_equal(out, pal[idx])

    def test_code_width_growth_and_clear(self):
        # large structured image: LZW table crosses several width
        # boundaries; 200x200 random 8-color forces a 12-bit overflow
        # CLEAR mid-stream
        pal = np.random.default_rng(14).integers(0, 256, (8, 3), np.uint8)
        idx = np.random.default_rng(15).integers(0, 8, (200, 200), np.uint8)
        assert np.array_equal(decode_gif(encode_gif(idx, pal)), pal[idx])

    def test_two_color(self):
        pal = np.array([[0, 0, 0], [255, 255, 255]], np.uint8)
        idx = (np.indices((8, 8)).sum(axis=0) % 2).astype(np.uint8)
        assert np.array_equal(decode_gif(encode_gif(idx, pal)), pal[idx])


def _ycbcr_420_expected(img: np.ndarray) -> np.ndarray:
    """The encoder's own chroma chain (JFIF forward transform, 2x2 box
    downsample, replication upsample, inverse transform) in plain
    numpy — what a 4:2:0 round-trip should give apart from DCT
    quantization noise."""
    f = img.astype(np.float64)
    r, g, b = f[:, :, 0], f[:, :, 1], f[:, :, 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
    h, w = y.shape
    eh, ew = -(-h // 2) * 2, -(-w // 2) * 2
    pad = lambda p: np.pad(p, ((0, eh - h), (0, ew - w)), mode="edge")
    down = lambda p: pad(p).reshape(eh // 2, 2, ew // 2, 2).mean(axis=(1, 3))
    up = lambda p: np.repeat(np.repeat(p, 2, axis=0), 2, axis=1)[:h, :w]
    cb, cr = up(down(cb)), up(down(cr))
    rr = y + 1.402 * (cr - 128.0)
    gg = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    bb = y + 1.772 * (cb - 128.0)
    return np.clip(np.round(np.stack([rr, gg, bb], axis=2)), 0, 255)


class TestJpegRoundTrip:
    """encode_jpeg (forward DCT + fixed-length Huffman) vs decode_jpeg
    (Huffman + IDCT): independent directions, so tolerance-bounded
    agreement gates the whole pipeline. With unit quantization tables
    the only loss is coefficient rounding: |err| <= sum_uv 0.5*|A|^2
    <= 4 gray levels."""

    def test_444_near_lossless(self):
        img = _img(24, 17, seed=30)  # non-multiple-of-8 dims
        out = decode_jpeg(encode_jpeg(img, subsample=(1, 1)))
        assert out.shape == img.shape
        assert np.abs(out.astype(int) - img.astype(int)).max() <= 4

    def test_420_matches_chroma_chain(self):
        # smooth gradients: the 4:2:0 error is exactly the chroma
        # down/up chain, which the expectation reproduces — residual
        # is DCT rounding only
        y, x = np.mgrid[0:21, 0:30]
        img = np.stack([5 * x % 200 + 20, (4 * y) % 200 + 30,
                        (2 * x + 3 * y) % 200 + 25], axis=2).astype(np.uint8)
        out = decode_jpeg(encode_jpeg(img, subsample=(2, 2)))
        assert out.shape == img.shape
        exp = _ycbcr_420_expected(img)
        assert np.abs(out.astype(float) - exp).max() <= 5

    def test_restart_markers(self):
        img = _img(40, 24, seed=31)
        enc = encode_jpeg(img, subsample=(1, 1), restart_interval=2)
        assert b"\xff\xdd" in enc and b"\xff\xd0" in enc
        out = decode_jpeg(enc)
        assert np.abs(out.astype(int) - img.astype(int)).max() <= 4

    def test_real_quant_tables_lossy_but_close(self):
        # uniform q=16 tables: exercises dequantization (a wrong
        # multiply would explode the error, not nudge it)
        y, x = np.mgrid[0:16, 0:16]
        img = np.stack([8 * x + 40, 6 * y + 30, 4 * (x + y) + 20],
                       axis=2).astype(np.uint8)
        out = decode_jpeg(encode_jpeg(img, qy=16, qc=16))
        err = np.abs(out.astype(float) - img.astype(float))
        assert err.mean() < 8 and err.max() < 40

    def test_single_block_and_odd_sizes(self):
        for shape in [(8, 8), (1, 1), (9, 23)]:
            img = _img(*shape, seed=32)
            out = decode_jpeg(encode_jpeg(img))
            assert out.shape == img.shape
            assert np.abs(out.astype(int) - img.astype(int)).max() <= 4

    def test_dispatch(self):
        img = _img(8, 8, seed=33)
        fmt, out = decode_pixels(encode_jpeg(img))
        assert fmt == "jpeg" and out.shape == (8, 8, 3)

    def test_truncated_raises(self):
        enc = encode_jpeg(_img(16, 16, seed=34))
        with pytest.raises(ValueError):
            decode_jpeg(enc[:len(enc) // 2])

    def test_progressive_raises_not_implemented(self):
        # minimal SOF2 skeleton: progressive is out of scope
        import struct as _s
        sof2 = (b"\xff\xd8\xff\xc2" + _s.pack(">H", 11)
                + _s.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0]))
        with pytest.raises(NotImplementedError):
            decode_jpeg(sof2)


class TestCommittedGoldens:
    def test_all_golden_fixtures(self):
        exp = np.load(os.path.join(_MEDIA, "expected.npz"))
        assert len(exp.files) >= 10
        for name in exp.files:
            with open(os.path.join(_MEDIA, f"{name}.bin"), "rb") as fh:
                fmt, img = decode_pixels(fh.read())
            assert np.array_equal(img, exp[name]), name

    def test_third_party_bytes_decode(self):
        tp = os.path.join(_MEDIA, "thirdparty")
        decoded = {}
        for name in sorted(os.listdir(tp)):
            with open(os.path.join(tp, name), "rb") as fh:
                fmt, img = decode_pixels(fh.read())
            assert img.ndim == 3 and img.shape[2] == 3 and img.size > 0, name
            decoded[name] = img
        # known dimensions of the CPython assets
        assert decoded["python.gif"].shape == (16, 16, 3)
        assert decoded["idle_16.png"].shape == (16, 16, 3)
        assert decoded["folder.gif"].shape == (13, 15, 3)

    def test_third_party_jpeg(self):
        # real-world baseline JPEG (CPython email test data, PSF
        # licensed): 4:2:0 with libjpeg-style variable-length Huffman
        # tables — the variable-length path our fixed-length test
        # encoder never produces
        tp = os.path.join(_MEDIA, "thirdparty")
        fmt, jpg = decode_pixels(
            open(os.path.join(tp, "python.jpg"), "rb").read())
        assert fmt == "jpeg" and jpg.shape == (16, 16, 3)
        assert jpg.std() > 10  # decoded content, not a flat plane
        # same 16x16 Python-logo artwork as python.png: luminance of
        # the two decodes must be strongly correlated
        _, png = decode_pixels(
            open(os.path.join(tp, "python.png"), "rb").read())
        lum = lambda a: (0.299 * a[:, :, 0] + 0.587 * a[:, :, 1]
                         + 0.114 * a[:, :, 2]).ravel()
        corr = np.corrcoef(lum(jpg.astype(float)),
                           lum(png.astype(float)))[0, 1]
        assert corr > 0.7, corr

    def test_cross_encoder_identity(self):
        # the same 16x16 Python logo through libpng (python.png) and a
        # BI_BITFIELDS BMP writer (python.bmp) must decode identically
        tp = os.path.join(_MEDIA, "thirdparty")
        _, png = decode_pixels(open(os.path.join(tp, "python.png"), "rb").read())
        _, bmp = decode_pixels(open(os.path.join(tp, "python.bmp"), "rb").read())
        assert np.array_equal(png, bmp)


class TestDecodeMediaRealPath:
    """decode_media end-to-end on a DataFrame of REAL image payloads:
    dimensions and features must come from true decoded pixels."""

    def _media_df(self, spark):
        rows = []
        self._truth = {}
        for name in ("png_rgb", "bmp24", "gif_plain"):
            with open(os.path.join(_MEDIA, f"{name}.bin"), "rb") as fh:
                b = fh.read()
            rows.append((name, 0, f"media://{name}", bytearray(b)))
            self._truth[name] = b
        return spark.createDataFrame(
            rows,
            "doc_id string, span_idx int, media_ref string, payload binary")

    def test_real_dims_and_features(self, spark):
        from geodistpy_spark.textops.multimodal import decode_media

        out = decode_media(self._media_df(spark)).toPandas()
        exp = np.load(os.path.join(_MEDIA, "expected.npz"))
        assert len(out) == 3
        for r in out.itertuples():
            img = exp[r.doc_id]
            assert (r.height, r.width) == img.shape[:2]
            assert r.format == {"png_rgb": "png", "bmp24": "bmp",
                                "gif_plain": "gif"}[r.doc_id]
            np.testing.assert_allclose(
                np.array(r.features, dtype=np.float32),
                pixel_features(img), atol=1e-6)

    def test_resize_uses_real_luminance(self, spark):
        from geodistpy_spark.textops.multimodal import resize_media

        out = resize_media(self._media_df(spark), out_h=4, out_w=4).toPandas()
        exp = np.load(os.path.join(_MEDIA, "expected.npz"))
        for r in out.itertuples():
            img = exp[r.doc_id].astype(np.float64) / 255.0
            lum = (0.299 * img[:, :, 0] + 0.587 * img[:, :, 1]
                   + 0.114 * img[:, :, 2])
            assert (r.src_h, r.src_w) == lum.shape
            # corner samples of the bilinear grid hit source corners
            px = np.array(r.pixels).reshape(4, 4)
            np.testing.assert_allclose(px[0, 0], lum[0, 0], atol=1e-6)
            np.testing.assert_allclose(px[-1, -1], lum[-1, -1], atol=1e-6)


    def test_malformed_streams_fall_back_to_header_dims(self, spark):
        # a valid IHDR over an IDAT that is not zlib data, a GIF cut
        # inside its image descriptor and a BMP whose width is 0: the
        # pixel decode refuses each as malformed (ValueError, not
        # zlib.error / struct.error / an empty array), so decode_media
        # and resize_media fall back to the header's dims
        import struct

        from geodistpy_spark.textops.multimodal import (
            MEDIA_FEATURE_DIM, decode_media, resize_media)

        def chunk(typ, data):
            return struct.pack(">I", len(data)) + typ + data + b"\0" * 4

        png = (b"\x89PNG\r\n\x1a\n"
               + chunk(b"IHDR", struct.pack(">IIBBBBB", 40, 30, 8, 2, 0, 0, 0))
               + chunk(b"IDAT", b"not a zlib stream") + chunk(b"IEND", b""))
        with open(os.path.join(_MEDIA, "gif_plain.bin"), "rb") as fh:
            gif = fh.read()[:69]
        with open(os.path.join(_MEDIA, "bmp24.bin"), "rb") as fh:
            bmp = bytearray(fh.read())
        bmp[18:22] = struct.pack("<i", 0)
        cases = {"png": (png, 40, 30), "gif": (gif, 27, 19),
                 "bmp": (bytes(bmp), 0, 11)}
        for fmt, (p, _, _) in cases.items():
            with pytest.raises(ValueError, match="IDAT|malformed|no pixels"):
                decode_pixels(p)
        df = spark.createDataFrame(
            [(fmt, 0, f"media://{fmt}", bytearray(p))
             for fmt, (p, _, _) in cases.items()],
            "doc_id string, span_idx int, media_ref string, payload binary")
        for r in decode_media(df).collect():
            _, w, h = cases[r.doc_id]
            assert (r.format, r.width, r.height) == (r.doc_id, w, h)
            assert len(r.features) == MEDIA_FEATURE_DIM
        rz = resize_media(df, out_h=2, out_w=2).collect()
        assert len(rz) == 3
        for r in rz:
            _, w, h = cases[r.doc_id]
            assert (r.src_w, r.src_h) == (w, h) and len(r.pixels) == 4


class TestDecodeDispatchAndFeatures:
    def test_unsupported_raises(self):
        # a JPEG signature with garbage after it is now dispatched to
        # the real decoder, which rejects it as malformed
        with pytest.raises(ValueError):
            decode_pixels(b"\xff\xd8\xff\xe0" + b"\x00" * 64)
        with pytest.raises(NotImplementedError):
            decode_pixels(b"\x00" * 64)

    def test_pixel_features_known_values(self):
        img = np.zeros((4, 4, 3), np.uint8)
        img[:2] = 255  # top half white, bottom half black
        f = pixel_features(img)
        assert f.shape == (8,) and f.dtype == np.float32
        np.testing.assert_allclose(f[:3], 0.5, atol=1e-6)  # channel means
        np.testing.assert_allclose(f[3], 0.5, atol=1e-6)   # luma std
        np.testing.assert_allclose(f[4:6], 1.0, atol=1e-6)  # top quads
        np.testing.assert_allclose(f[6:8], 0.0, atol=1e-6)  # bottom quads

    def test_features_resolution_independent(self):
        img = _img(16, 16, seed=20)
        big = np.repeat(np.repeat(img, 4, axis=0), 4, axis=1)
        np.testing.assert_allclose(
            pixel_features(img), pixel_features(big), atol=1e-6)
