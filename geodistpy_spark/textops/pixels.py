"""Real pixel decoders for PNG / BMP / GIF / baseline JPEG — pure
stdlib + numpy.

No codec libraries exist in this environment, but these container
formats are decodable from first principles (public file-format specs):

- **PNG**: zlib (stdlib) inflate of the IDAT stream + scanline
  unfiltering (None/Sub/Up/Average/Paeth). Bit depth 8, color types
  0 (gray), 2 (RGB), 3 (palette), 4 (gray+alpha), 6 (RGBA),
  non-interlaced.
- **BMP**: BITMAPINFOHEADER uncompressed rows — 8-bpp palette, 24-bpp
  BGR, 32-bpp BGRA; bottom-up or top-down; 4-byte row padding.
- **GIF**: LZW decode (variable code width, clear/EOI codes, 12-bit
  dict cap) of the first image frame, global/local color tables,
  Adam-less GIF interlace (4-pass row shuffle).
- **JPEG** (baseline SOF0/SOF1): canonical Huffman entropy decode,
  dequantization, vectorized 8x8 IDCT, restart intervals, integer
  chroma upsampling, JFIF YCbCr -> RGB.

Everything returns an ``(h, w, 3)`` uint8 RGB array; alpha planes are
dropped (compositing policy belongs to the caller, and the feature
extractor below is luminance/chroma based).

:mod:`.multimodal` pixel-decodes every image payload through
:func:`decode_pixels` first: ``decode_media`` features and
``resize_media`` grids come from these pixels whenever the decode
succeeds. Progressive-JPEG/WebP/TIFF payloads raise
``NotImplementedError`` (their bitstreams need codec machinery out of
scope here); malformed streams raise ``ValueError``.

Parity note: the reference engine has no multimodal surface at all;
this module extends it for training-data pipelines (SURVEY.md §2 LLM
additions), so there is no reference file to cite.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"

# channel count per PNG color type
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _png_unfilter(raw: bytes, h: int, stride: int, bpp: int) -> np.ndarray:
    """Invert PNG scanline filtering -> (h, stride) uint8.

    Rows with filter None/Up are vectorized; Sub is a cumulative sum
    modulo 256 over pixel groups; Average/Paeth carry a true
    left-neighbor dependency so they walk pixel groups in x (vector
    over the bpp lanes) — fixture-scale images make this cheap, and
    real-world PNG rows are dominated by filters 0-2 anyway.
    """
    if len(raw) < h * (stride + 1):
        raise ValueError("PNG pixel stream truncated")
    out = np.zeros((h, stride), dtype=np.uint8)
    n_px = stride // bpp
    pos = 0
    for y in range(h):
        ft = raw[pos]
        row = np.frombuffer(raw, dtype=np.uint8, count=stride, offset=pos + 1)
        pos += 1 + stride
        prev = out[y - 1] if y > 0 else np.zeros(stride, dtype=np.uint8)
        if ft == 0:
            out[y] = row
        elif ft == 1:  # Sub: cumsum mod 256 over pixel groups
            g = row.reshape(n_px, bpp).astype(np.int64)
            out[y] = (np.cumsum(g, axis=0) % 256).astype(np.uint8).reshape(stride)
        elif ft == 2:  # Up
            out[y] = row + prev  # uint8 wraps mod 256
        elif ft == 3:  # Average
            r = row.reshape(n_px, bpp).astype(np.int32)
            b = prev.reshape(n_px, bpp).astype(np.int32)
            o = np.zeros((n_px, bpp), dtype=np.int32)
            a = np.zeros(bpp, dtype=np.int32)
            for x in range(n_px):
                a = (r[x] + ((a + b[x]) >> 1)) & 0xFF
                o[x] = a
            out[y] = o.astype(np.uint8).reshape(stride)
        elif ft == 4:  # Paeth
            r = row.reshape(n_px, bpp).astype(np.int32)
            b = prev.reshape(n_px, bpp).astype(np.int32)
            o = np.zeros((n_px, bpp), dtype=np.int32)
            a = np.zeros(bpp, dtype=np.int32)
            c = np.zeros(bpp, dtype=np.int32)
            for x in range(n_px):
                p = a + b[x] - c
                pa, pb, pc = np.abs(p - a), np.abs(p - b[x]), np.abs(p - c)
                pred = np.where((pa <= pb) & (pa <= pc), a,
                                np.where(pb <= pc, b[x], c))
                a = (r[x] + pred) & 0xFF
                o[x] = a
                c = b[x]
            out[y] = o.astype(np.uint8).reshape(stride)
        else:
            raise ValueError(f"bad PNG filter type {ft}")
    return out


def decode_png(p: bytes) -> np.ndarray:
    """PNG -> (h, w, 3) uint8 RGB. 8-bit, non-interlaced, color types
    0/2/3/4/6. Raises ValueError on malformed streams,
    NotImplementedError on unsupported variants (16-bit, Adam7)."""
    if p[:8] != _PNG_MAGIC:
        raise ValueError("not a PNG")
    i = 8
    idat = bytearray()
    w = h = bit = ctype = interlace = None
    palette = None
    trns = None
    while i + 8 <= len(p):
        (ln,) = struct.unpack(">I", p[i:i + 4])
        typ = p[i + 4:i + 8]
        data = p[i + 8:i + 8 + ln]
        if len(data) < ln:
            raise ValueError("PNG chunk truncated")
        if typ == b"IHDR":
            w, h, bit, ctype = struct.unpack(">IIBB", data[:10])
            interlace = data[12]
        elif typ == b"PLTE":
            palette = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        elif typ == b"tRNS":
            trns = data
        elif typ == b"IDAT":
            idat += data
        elif typ == b"IEND":
            break
        i += 12 + ln  # length + type + data + crc
    if w is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    if bit != 8:
        raise NotImplementedError(f"PNG bit depth {bit} (only 8 supported)")
    if interlace:
        raise NotImplementedError("interlaced (Adam7) PNG")
    if ctype not in _PNG_CHANNELS:
        raise ValueError(f"bad PNG color type {ctype}")
    ch = _PNG_CHANNELS[ctype]
    stride = w * ch
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as e:
        raise ValueError("PNG IDAT stream corrupt") from e
    px = _png_unfilter(raw, h, stride, ch).reshape(h, w, ch)
    if ctype == 0:
        return np.repeat(px, 3, axis=2)
    if ctype == 2:
        return px.copy()
    if ctype == 3:
        if palette is None:
            raise ValueError("palette PNG missing PLTE")
        return palette[px[:, :, 0]]
    if ctype == 4:
        return np.repeat(px[:, :, :1], 3, axis=2)
    return px[:, :, :3].copy()  # ctype 6: drop alpha


def decode_bmp(p: bytes) -> np.ndarray:
    """BMP (BITMAPINFOHEADER family, uncompressed or BI_BITFIELDS) ->
    (h, w, 3) uint8 RGB. 8-bpp palette / 16-bpp masked / 24-bpp BGR /
    32-bpp BGRA or masked; bottom-up (h > 0) or top-down (h < 0) row
    order; rows padded to 4 bytes."""
    if p[:2] != b"BM" or len(p) < 54:
        raise ValueError("not a BMP")
    (data_off,) = struct.unpack("<I", p[10:14])
    (hdr_size,) = struct.unpack("<I", p[14:18])
    if hdr_size < 40:
        raise NotImplementedError(f"BMP header size {hdr_size}")
    w, h_signed = struct.unpack("<ii", p[18:26])
    planes, bpp = struct.unpack("<HH", p[26:30])
    (compression,) = struct.unpack("<I", p[30:34])
    masks = None
    if compression == 3:  # BI_BITFIELDS: per-channel masks, else raw rows
        if bpp not in (16, 32):
            raise NotImplementedError(f"BI_BITFIELDS with bpp {bpp}")
        # masks live in the V4/V5 header body, or right after a plain
        # BITMAPINFOHEADER
        moff = 54 if hdr_size == 40 else 14 + 40
        masks = struct.unpack("<III", p[moff:moff + 12])
    elif compression != 0:
        raise NotImplementedError(f"compressed BMP (method {compression})")
    if bpp not in (8, 16, 24, 32):
        raise NotImplementedError(f"BMP bpp {bpp}")
    if bpp == 16 and masks is None:
        masks = (0x7C00, 0x03E0, 0x001F)  # default RGB555
    h = abs(h_signed)
    stride = (w * (bpp // 8) + 3) & ~3
    need = data_off + stride * h
    if len(p) < need:
        raise ValueError("BMP pixel data truncated")
    rows = np.frombuffer(p, dtype=np.uint8, count=stride * h,
                         offset=data_off).reshape(h, stride)
    if h_signed > 0:  # bottom-up
        rows = rows[::-1]
    if bpp == 8:
        (colors_used,) = struct.unpack("<I", p[46:50])
        n_colors = colors_used or 256
        pal_off = 14 + hdr_size
        pal = np.frombuffer(p, dtype=np.uint8, count=n_colors * 4,
                            offset=pal_off).reshape(n_colors, 4)
        idx = rows[:, :w]
        return pal[idx][:, :, [2, 1, 0]]  # BGRX -> RGB
    nb = bpp // 8
    if masks is not None:
        dtype = np.uint16 if bpp == 16 else np.uint32
        vals = rows[:, :w * nb].reshape(h, w, nb).copy().view(dtype)[:, :, 0]
        vals = vals.astype(np.uint32)
        chans = []
        for m in masks:
            if m == 0:
                chans.append(np.zeros((h, w), np.uint8))
                continue
            shift = (m & -m).bit_length() - 1
            width = int(m >> shift).bit_length()
            c = (vals & m) >> shift
            # scale an n-bit channel to 8 bits (255 * c / (2^n - 1))
            chans.append(((c * 255) // ((1 << width) - 1)).astype(np.uint8))
        return np.stack(chans, axis=2)
    px = rows[:, :w * nb].reshape(h, w, nb)
    return px[:, :, [2, 1, 0]].copy()  # BGR(A) -> RGB


def _gif_lzw(min_code_size: int, data: bytes, max_pixels: int) -> bytes:
    """GIF-flavor LZW decode: LSB-first variable-width codes, CLEAR
    resets the table, code width grows when the next slot crosses a
    power of two (capped at 12 bits)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    base = [bytes([i]) for i in range(clear)] + [b"", b""]
    table = list(base)
    code_size = min_code_size + 1
    out = bytearray()
    prev = None
    bitpos = 0
    total_bits = len(data) * 8
    while bitpos + code_size <= total_bits:
        byte_i = bitpos >> 3
        chunk = int.from_bytes(data[byte_i:byte_i + 4], "little")
        code = (chunk >> (bitpos & 7)) & ((1 << code_size) - 1)
        bitpos += code_size
        if code == clear:
            table = list(base)
            code_size = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            break
        if prev is None:
            if code >= len(table):
                raise ValueError("bad first LZW code")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError("LZW code out of range")
        if prev is not None and len(table) == (1 << code_size) and code_size < 12:
            code_size += 1
        out += entry
        prev = entry
        if len(out) >= max_pixels:
            break
    return bytes(out)


def decode_gif(p: bytes) -> np.ndarray:
    """GIF87a/89a first frame -> (h, w, 3) uint8 RGB. Global/local
    color tables, interlaced frames, extension-block skipping. The
    first frame is composited onto the logical screen (background
    color) when smaller than the canvas."""
    if p[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    sw, sh = struct.unpack("<HH", p[6:10])
    flags = p[10]
    bg_idx = p[11]
    i = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        gct = np.frombuffer(p, dtype=np.uint8, count=n * 3,
                            offset=i).reshape(n, 3)
        i += n * 3
    while i < len(p):
        b0 = p[i]
        if b0 == 0x21:  # extension: label + sub-blocks
            i += 2
            while i < len(p) and p[i] != 0:
                i += 1 + p[i]
            i += 1
        elif b0 == 0x2C:  # image descriptor
            ix, iy, iw, ih = struct.unpack("<HHHH", p[i + 1:i + 9])
            iflags = p[i + 9]
            i += 10
            ct = gct
            if iflags & 0x80:
                n = 2 << (iflags & 0x07)
                ct = np.frombuffer(p, dtype=np.uint8, count=n * 3,
                                   offset=i).reshape(n, 3)
                i += n * 3
            if ct is None:
                raise ValueError("GIF frame has no color table")
            min_code = p[i]
            i += 1
            stream = bytearray()
            while i < len(p) and p[i] != 0:
                ln = p[i]
                stream += p[i + 1:i + 1 + ln]
                i += 1 + ln
            idx_flat = np.frombuffer(
                _gif_lzw(min_code, bytes(stream), iw * ih), dtype=np.uint8)
            if len(idx_flat) < iw * ih:
                raise ValueError("GIF pixel stream truncated")
            idx = idx_flat[:iw * ih].reshape(ih, iw)
            if iflags & 0x40:  # interlaced: 4-pass row order
                deinter = np.zeros_like(idx)
                order = np.concatenate([
                    np.arange(0, ih, 8), np.arange(4, ih, 8),
                    np.arange(2, ih, 4), np.arange(1, ih, 2)])
                deinter[order] = idx
                idx = deinter
            frame = ct[np.minimum(idx, len(ct) - 1)]
            if (ix, iy, iw, ih) == (0, 0, sw, sh):
                return frame
            canvas = np.tile(ct[min(bg_idx, len(ct) - 1)], (sh, sw, 1))
            canvas[iy:iy + ih, ix:ix + iw] = frame[:sh - iy, :sw - ix]
            return canvas
        elif b0 == 0x3B:  # trailer
            break
        else:
            raise ValueError(f"bad GIF block 0x{b0:02x}")
    raise ValueError("GIF contains no image frame")


# --------------------------------------------------------------------------
# baseline JPEG (ITU-T T.81 SOF0): Huffman entropy decode + dequant +
# vectorized 8x8 IDCT — pure stdlib + numpy, no codec library.

# stream position k -> raster index 0..63 (T.81 Figure 5 zigzag)
_JPEG_ZIGZAG = np.array([
    0,  1,  8, 16,  9,  2,  3, 10,
    17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63], dtype=np.int64)

# orthonormal 8-point DCT-II basis: A[u, x] = c(u)/2 * cos((2x+1)u*pi/16)
_JPEG_DCT_A = np.array([
    [(np.sqrt(0.5) if u == 0 else 1.0) * 0.5
     * np.cos((2 * x + 1) * u * np.pi / 16.0)
     for x in range(8)] for u in range(8)])


def _jpeg_huff_table(bits: list[int], vals: bytes) -> dict[tuple[int, int], int]:
    """Canonical Huffman (T.81 Annex C): {(length, code) -> symbol}."""
    table = {}
    code = 0
    k = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            table[(ln, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return table


class _JpegBits:
    """MSB-first bit reader over one entropy-coded segment (byte
    stuffing already removed)."""

    __slots__ = ("data", "pos", "acc", "nbits")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def get(self, n: int) -> int:
        while self.nbits < n:
            # past the segment end T.81 pads with 1-bits (F.2.2.5)
            byte = self.data[self.pos] if self.pos < len(self.data) else 0xFF
            self.pos += 1
            self.acc = (self.acc << 8) | byte
            self.nbits += 8
        self.nbits -= n
        out = (self.acc >> self.nbits) & ((1 << n) - 1)
        self.acc &= (1 << self.nbits) - 1
        return out

    def huff(self, table: dict[tuple[int, int], int]) -> int:
        code = 0
        for ln in range(1, 17):
            code = (code << 1) | self.get(1)
            sym = table.get((ln, code))
            if sym is not None:
                return sym
        raise ValueError("invalid JPEG Huffman code")


def _jpeg_extend(v: int, s: int) -> int:
    """DIFF/AC magnitude decode (T.81 F.2.2.1 EXTEND)."""
    return v - ((1 << s) - 1) if v < (1 << (s - 1)) else v


def decode_jpeg(p: bytes) -> np.ndarray:
    """Baseline JPEG (SOF0, 8-bit, Huffman) -> (h, w, 3) uint8 RGB.

    Supports 1- or 3-component scans, any integer chroma subsampling
    whose factors divide the max (4:4:4 / 4:2:2 / 4:2:0 / 4:1:1),
    restart intervals, and multi-table DQT/DHT. Progressive (SOF2) and
    arithmetic-coded variants raise NotImplementedError. Chroma planes
    are upsampled by replication; YCbCr -> RGB is the JFIF transform.
    """
    if p[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    qt: dict[int, np.ndarray] = {}
    huff_dc: dict[int, dict] = {}
    huff_ac: dict[int, dict] = {}
    comps = None  # [(id, Hi, Vi, tq)]
    w = h = None
    restart_interval = 0
    i = 2
    scan = None
    scan_comps = None
    while i + 4 <= len(p):
        if p[i] != 0xFF:
            raise ValueError("bad JPEG marker stream")
        m = p[i + 1]
        if m == 0xD8 or 0xD0 <= m <= 0xD7 or m == 0x01:
            i += 2
            continue
        (ln,) = struct.unpack(">H", p[i + 2:i + 4])
        seg = p[i + 4:i + 2 + ln]
        if m == 0xDB:  # DQT: one or more (precision/id, 64 entries)
            j = 0
            while j < len(seg):
                prec, tid = seg[j] >> 4, seg[j] & 15
                j += 1
                if prec:
                    vals = np.frombuffer(seg, dtype=">u2", count=64, offset=j)
                    j += 128
                else:
                    vals = np.frombuffer(seg, dtype=np.uint8, count=64, offset=j)
                    j += 64
                tbl = np.zeros(64, dtype=np.int32)
                tbl[_JPEG_ZIGZAG] = vals
                qt[tid] = tbl.reshape(8, 8)
        elif m in (0xC0, 0xC1):  # SOF0/1: baseline (extended-sequential ok)
            _prec, h, w, nc = struct.unpack(">BHHB", seg[:6])
            comps = [(seg[6 + 3 * c], seg[7 + 3 * c] >> 4,
                      seg[7 + 3 * c] & 15, seg[8 + 3 * c])
                     for c in range(nc)]
        elif m in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                   0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"JPEG SOF{m - 0xC0}: only baseline sequential Huffman "
                "(SOF0/SOF1) is supported")
        elif m == 0xC4:  # DHT
            j = 0
            while j < len(seg):
                cls, tid = seg[j] >> 4, seg[j] & 15
                bits = list(seg[j + 1:j + 17])
                n = sum(bits)
                vals = seg[j + 17:j + 17 + n]
                (huff_ac if cls else huff_dc)[tid] = _jpeg_huff_table(bits, vals)
                j += 17 + n
        elif m == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", seg[:2])
        elif m == 0xDA:  # SOS: header, then entropy-coded data
            ns = seg[0]
            scan_comps = [(seg[1 + 2 * c], seg[2 + 2 * c] >> 4,
                           seg[2 + 2 * c] & 15) for c in range(ns)]
            start = i + 2 + ln
            j = start
            while j + 1 < len(p):
                if p[j] == 0xFF and p[j + 1] not in (0x00,) and not (
                        0xD0 <= p[j + 1] <= 0xD7):
                    break
                j += 1
            scan = p[start:j]
            i = j
            break
        i += 2 + ln
    if comps is None or scan is None or w is None:
        raise ValueError("JPEG missing SOF/SOS")

    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    planes = {cid: np.zeros((mcuy * vi * 8, mcux * hi * 8), dtype=np.float64)
              for cid, hi, vi, _ in comps}
    comp_by_id = {cid: (hi, vi, tq) for cid, hi, vi, tq in comps}

    # split entropy data at RST markers, un-stuff 0xFF00 per segment
    segments = []
    cur = bytearray()
    j = 0
    while j < len(scan):
        if scan[j] == 0xFF and j + 1 < len(scan):
            nxt = scan[j + 1]
            if nxt == 0x00:
                cur.append(0xFF)
                j += 2
                continue
            if 0xD0 <= nxt <= 0xD7:
                segments.append(bytes(cur))
                cur = bytearray()
                j += 2
                continue
        cur.append(scan[j])
        j += 1
    segments.append(bytes(cur))

    n_mcu = mcux * mcuy
    per_seg = restart_interval or n_mcu
    blocks: dict[int, list] = {cid: [] for cid, *_ in comps}
    positions: dict[int, list] = {cid: [] for cid, *_ in comps}
    mcu = 0
    for seg_bytes in segments:
        if mcu >= n_mcu:
            break
        reader = _JpegBits(seg_bytes)
        pred = {cid: 0 for cid, *_ in comps}
        for _ in range(min(per_seg, n_mcu - mcu)):
            my, mx = divmod(mcu, mcux)
            for cid, td, ta in scan_comps:
                hi, vi, tq = comp_by_id[cid]
                for by in range(vi):
                    for bx in range(hi):
                        coef = np.zeros(64, dtype=np.float64)
                        s = reader.huff(huff_dc[td])
                        diff = _jpeg_extend(reader.get(s), s) if s else 0
                        pred[cid] += diff
                        coef[0] = pred[cid]
                        k = 1
                        while k < 64:
                            rs = reader.huff(huff_ac[ta])
                            r, s = rs >> 4, rs & 15
                            if s == 0:
                                if r == 15:  # ZRL
                                    k += 16
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError("JPEG AC index overrun")
                            coef[k] = _jpeg_extend(reader.get(s), s)
                            k += 1
                        blk = np.zeros(64, dtype=np.float64)
                        blk[_JPEG_ZIGZAG] = coef
                        blocks[cid].append(blk.reshape(8, 8) * qt[tq])
                        positions[cid].append(((my * vi + by) * 8,
                                               (mx * hi + bx) * 8))
            mcu += 1
    if mcu < n_mcu:
        raise ValueError("JPEG entropy stream truncated")

    # one vectorized IDCT per component: f = A^T @ F @ A, +128 level shift
    for cid, blks in blocks.items():
        if not blks:
            continue
        F_all = np.stack(blks)
        px = np.einsum("ux,nuv,vy->nxy", _JPEG_DCT_A, F_all,
                       _JPEG_DCT_A, optimize=True) + 128.0
        plane = planes[cid]
        for (y0, x0), b in zip(positions[cid], px):
            plane[y0:y0 + 8, x0:x0 + 8] = b

    # crop component planes to their natural size, upsample to (h, w)
    out_planes = []
    for cid, hi, vi, _tq in comps:
        cw = -(-w * hi // hmax)
        ch = -(-h * vi // vmax)
        pl = planes[cid][:ch, :cw]
        if hi != hmax or vi != vmax:
            if hmax % hi or vmax % vi:
                raise NotImplementedError(
                    "non-integer JPEG chroma upsampling ratio")
            pl = np.repeat(np.repeat(pl, vmax // vi, axis=0),
                           hmax // hi, axis=1)
        out_planes.append(pl[:h, :w])

    if len(out_planes) == 1:
        y = np.clip(np.round(out_planes[0]), 0, 255).astype(np.uint8)
        return np.repeat(y[:, :, None], 3, axis=2)
    if len(out_planes) != 3:
        raise NotImplementedError(
            f"JPEG with {len(out_planes)} components (1 or 3 supported)")
    y, cb, cr = out_planes
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    return np.clip(np.round(np.stack([r, g, b], axis=2)), 0,
                   255).astype(np.uint8)


def decode_pixels(p: bytes) -> tuple[str, np.ndarray]:
    """(format, (h, w, 3) uint8 RGB) for PNG/BMP/GIF/baseline-JPEG
    payloads.

    Progressive JPEG / WebP / TIFF / unknown containers raise
    NotImplementedError — their pixel streams need entropy codecs
    absent from this environment (header-level dimensions for them
    come from :func:`.multimodal.parse_image_header`). A truncated or
    corrupt stream, or one that decodes to no pixels, raises
    ValueError, whichever decoder step it trips.
    """
    try:
        if p[:8] == _PNG_MAGIC:
            fmt, img = "png", decode_png(p)
        elif p[:2] == b"BM":
            fmt, img = "bmp", decode_bmp(p)
        elif p[:6] in (b"GIF87a", b"GIF89a"):
            fmt, img = "gif", decode_gif(p)
        elif p[:2] == b"\xff\xd8":
            fmt, img = "jpeg", decode_jpeg(p)
        else:
            raise NotImplementedError(
                "real pixel decode supports PNG/BMP/GIF/baseline-JPEG; "
                "progressive JPEG/WebP/TIFF need codec libraries not "
                "present in this environment")
    except (struct.error, LookupError, ArithmeticError) as e:
        raise ValueError(f"pixel stream malformed: {e!r}") from e
    if not img.size:
        raise ValueError(f"{fmt} image has no pixels")
    return fmt, img


def luma(f: np.ndarray) -> np.ndarray:
    """Rec.601 luminance (h, w) of an (h, w, 3) RGB array."""
    return 0.299 * f[:, :, 0] + 0.587 * f[:, :, 1] + 0.114 * f[:, :, 2]


def pixel_features(img: np.ndarray) -> np.ndarray:
    """8-dim float32 feature vector from real pixels, all in [0, 1]:
    [mean_r, mean_g, mean_b, std_luma, q_tl, q_tr, q_bl, q_br] where
    q_* are quadrant luminance means (Rec.601 luma). Deterministic and
    resolution-independent — the real-pixel replacement for the
    byte-derived stand-in features."""
    f = img.astype(np.float64) / 255.0
    y = luma(f)
    h, w = y.shape
    hh, wh = max(h // 2, 1), max(w // 2, 1)
    quads = [y[:hh, :wh], y[:hh, wh:], y[hh:, :wh], y[hh:, wh:]]
    return np.array(
        [f[:, :, 0].mean(), f[:, :, 1].mean(), f[:, :, 2].mean(),
         y.std()]
        + [(q.mean() if q.size else 0.0) for q in quads],
        dtype=np.float32)
