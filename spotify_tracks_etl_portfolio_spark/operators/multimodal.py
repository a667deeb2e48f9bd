"""Multimodal column support: image/audio/video as opaque ``binary``
columns, processed by Arrow-batched ``mapInPandas`` operators (north
star: multimodal training-data pipelines).

Every codec is REAL and pure-Python/stdlib (plus numpy): PNG (zlib
inflate + full scanline de-filtering, CRC-checked), uncompressed 24-bit
BMP (bottom-up and top-down), binary PPM (P6), baseline JPEG, animated
GIF (LZW), PCM WAV audio and YUV4MPEG2 video. Formats that would need a
native codec (progressive JPEG, compressed video or audio) raise a
documented ``NotImplementedError`` at the ``decode_image`` seam.

Scale notes: media bytes dominate row size — keep them in their own
column, never in join keys; ``mapInPandas`` streams Arrow batches so one
task never holds a partition of raw media in Python memory at once;
``maxRecordsPerBatch`` is the knob when media rows are MBs.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from spotify_tracks_etl_portfolio_spark.functions import scan_parallelism

# ===========================================================================
# Pure-Python image codecs (stdlib only): PNG, 24-bit BMP, PPM (P6).
# Encoders emit grayscale images whose pixel payload is an arbitrary byte
# string (zero-padded to width*height); decoders are general within the
# documented subset and are what `decode_image_features` runs on executors.
# ===========================================================================

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(typ: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + typ
        + data
        + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
    )


def _pad_to_grid(data: bytes, width: int) -> tuple[bytes, int]:
    height = max(1, -(-len(data) // width))
    return data + b"\x00" * (width * height - len(data)), height


def encode_png_gray(data: bytes, width: int = 16) -> bytes:
    """Real PNG (8-bit grayscale, filter 0, non-interlaced): IHDR + IDAT
    (zlib) + IEND with correct CRCs; payload zero-padded to the grid."""
    padded, height = _pad_to_grid(data, width)
    raw = b"".join(
        b"\x00" + padded[r * width : (r + 1) * width] for r in range(height)
    )
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )


def decode_png(blob: bytes) -> dict:
    """Decode PNG: 8-bit depth, color types 0/2/4/6, non-interlaced; all
    five scanline filter types (None/Sub/Up/Average/Paeth); chunk CRCs
    verified. Returns format/width/height/channels/samples."""
    if blob[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos, idat = 8, b""
    width = height = bit_depth = color_type = interlace = None
    while pos + 12 <= len(blob):
        (length,) = struct.unpack(">I", blob[pos : pos + 4])
        typ = blob[pos + 4 : pos + 8]
        data = blob[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack(">I", blob[pos + 8 + length : pos + 12 + length])
        if zlib.crc32(typ + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {typ!r} CRC mismatch")
        if typ == b"IHDR":
            width, height, bit_depth, color_type, _c, _f, interlace = struct.unpack(
                ">IIBBBBB", data
            )
        elif typ == b"IDAT":
            idat += data
        elif typ == b"IEND":
            break
        pos += 12 + length
    channels = {0: 1, 2: 3, 4: 2, 6: 4}.get(color_type)
    if width is None or channels is None or bit_depth != 8 or interlace != 0:
        raise NotImplementedError(
            f"PNG subset supported is 8-bit non-interlaced color types 0/2/4/6; "
            f"got bit_depth={bit_depth} color_type={color_type} interlace={interlace}"
        )
    raw = zlib.decompress(idat)
    stride = width * channels
    bpp = channels  # bytes per pixel at 8-bit depth
    out = bytearray()
    prev = bytearray(stride)
    rpos = 0
    for _ in range(height):
        ftype = raw[rpos]
        row = bytearray(raw[rpos + 1 : rpos + 1 + stride])
        rpos += 1 + stride
        if ftype == 1:  # Sub
            for i in range(bpp, stride):
                row[i] = (row[i] + row[i - bpp]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(stride):
                row[i] = (row[i] + prev[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                a = row[i - bpp] if i >= bpp else 0
                row[i] = (row[i] + ((a + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                a = row[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                row[i] = (row[i] + (a if pa <= pb and pa <= pc else b if pb <= pc else c)) & 0xFF
        elif ftype != 0:
            raise ValueError(f"bad PNG filter type {ftype}")
        out += row
        prev = row
    return {
        "format": "png", "width": width, "height": height,
        "channels": channels, "samples": bytes(out),
    }


def encode_bmp_gray(data: bytes, width: int = 16) -> bytes:
    """Real uncompressed 24-bit BMP (BITMAPINFOHEADER, bottom-up,
    4-byte-aligned rows); each payload byte becomes one gray BGR pixel."""
    padded, height = _pad_to_grid(data, width)
    row_pad = (-(width * 3)) % 4
    rows = []
    for r in range(height - 1, -1, -1):  # bottom-up
        row = bytearray()
        for b in padded[r * width : (r + 1) * width]:
            row += bytes((b, b, b))
        rows.append(bytes(row) + b"\x00" * row_pad)
    pixel_data = b"".join(rows)
    info = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0,
                       len(pixel_data), 2835, 2835, 0, 0)
    header = struct.pack("<2sIHHI", b"BM", 54 + len(pixel_data), 0, 0, 54)
    return header + info + pixel_data


def decode_bmp(blob: bytes) -> dict:
    """Decode uncompressed 24-bit BMP, bottom-up (height>0) or top-down
    (height<0), honoring the pixel-array offset and row padding."""
    if blob[:2] != b"BM":
        raise ValueError("not a BMP")
    (offset,) = struct.unpack("<I", blob[10:14])
    hdr_size, width, height = struct.unpack("<Iii", blob[14:26])
    planes, bpp, compression = struct.unpack("<HHI", blob[26:34])
    if bpp != 24 or compression != 0:
        raise NotImplementedError(
            f"BMP subset supported is uncompressed 24-bit; got bpp={bpp} "
            f"compression={compression}"
        )
    top_down = height < 0
    height = abs(height)
    row_stride = (width * 3 + 3) & ~3
    samples = bytearray()
    row_range = range(height) if top_down else range(height - 1, -1, -1)
    for r in row_range:
        start = offset + r * row_stride
        row = blob[start : start + width * 3]
        for px in range(width):
            b, g, rr = row[px * 3 : px * 3 + 3]
            samples += bytes((rr, g, b))  # normalize BGR → RGB
    return {
        "format": "bmp", "width": width, "height": height,
        "channels": 3, "samples": bytes(samples),
    }


def encode_ppm_gray(data: bytes, width: int = 16) -> bytes:
    """Binary PPM (P6, maxval 255); each payload byte → one gray RGB pixel."""
    padded, height = _pad_to_grid(data, width)
    body = b"".join(bytes((b, b, b)) for b in padded)
    return f"P6\n{width} {height}\n255\n".encode("ascii") + body


def decode_ppm(blob: bytes) -> dict:
    """Decode binary PPM (P6, maxval 255), tolerating '#' comments and
    arbitrary whitespace in the header per the Netpbm spec."""
    if blob[:2] != b"P6":
        raise ValueError("not a P6 PPM")
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(blob) and blob[pos : pos + 1].isspace():
            pos += 1
        if blob[pos : pos + 1] == b"#":
            while pos < len(blob) and blob[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(blob) and not blob[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(blob[start:pos]))
    pos += 1  # single whitespace after maxval
    width, height, maxval = fields
    if maxval != 255:
        raise NotImplementedError(f"PPM maxval 255 only; got {maxval}")
    if len(blob) - pos < width * height * 3:
        # a short payload would otherwise yield silently-wrong stats
        # (mean over fewer bytes while n_pixels stays w*h)
        raise ValueError(
            f"truncated PPM payload: need {width * height * 3} sample "
            f"bytes, have {len(blob) - pos}"
        )
    samples = blob[pos : pos + width * height * 3]
    return {
        "format": "ppm", "width": width, "height": height,
        "channels": 3, "samples": samples,
    }


# ===========================================================================
# Baseline JPEG (ITU-T T.81 / JFIF), pure Python + numpy IDCT.
#
# Decoder: general baseline sequential (SOF0) — DQT/DHT tables read from
# the FILE (any standard-compliant baseline encoder's output decodes, not
# just ours), 1- or 3-component scans at 4:4:4 (all sampling factors 1),
# 8- or 16-bit quant tables, DRI/RSTn restart markers, byte-stuffing. The
# un-supported corners of the spec (progressive SOF2, arithmetic coding,
# chroma subsampling, 12-bit) raise the documented ``NotImplementedError``
# codec seam with a precise message. A 100 TB multimodal corpus is mostly
# JPEG — this is the decode path the fingerprint/dedup family runs on it.
#
# Encoder (tests + synthetic media): grayscale or RGB 4:4:4 with ALL-ONES
# quantization tables — the near-lossless corner of baseline JPEG (the
# only loss left is DCT-coefficient rounding, ±<1 gray level per pixel in
# the mean), so decoded statistics verify against the lossless twin with
# wide margins while still exercising every decoder stage (DCT, Huffman,
# zigzag, DC prediction, stuffing).
# ===========================================================================

#: Zigzag scan order: position k in the scan -> index row*8+col.
_JPEG_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

# Standard Huffman tables, ITU-T T.81 Annex K.3 (the tables virtually
# every baseline encoder ships): (BITS counts for lengths 1..16, HUFFVAL).
_JPEG_STD_DC_LUM = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_JPEG_STD_DC_CHR = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_JPEG_STD_AC_LUM = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
        0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
        0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
        0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
        0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
        0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
        0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
        0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
        0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
        0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)
_JPEG_STD_AC_CHR = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
        0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
        0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
        0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
        0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
        0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
        0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
        0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
        0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
        0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
        0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
        0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
        0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)


def _jpeg_canonical_codes(bits: list[int], vals: list[int]) -> dict:
    """Canonical Huffman code assignment (T.81 C.2): ``{symbol: (code,
    length)}``."""
    out, code = {}, 0
    i = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[i]] = (code, length)
            code += 1
            i += 1
        code <<= 1
    return out


def _jpeg_decode_tree(bits: list[int], vals: list[int]) -> dict:
    """Decoding map ``{(length, code): symbol}`` from a DHT spec."""
    out, code = {}, 0
    i = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[(length, code)] = vals[i]
            code += 1
            i += 1
        code <<= 1
    return out


def _jpeg_dct_matrix():
    import numpy as np

    k = np.arange(8).reshape(8, 1)
    i = np.arange(8).reshape(1, 8)
    m = np.cos((2 * i + 1) * k * np.pi / 16) * np.sqrt(2.0 / 8)
    m[0, :] = np.sqrt(1.0 / 8)
    return m


class _JpegBitWriter:
    """MSB-first bit accumulator with 0xFF byte stuffing (F.1.2.3)."""

    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:
                self.buf.append(0x00)
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def restart(self, n: int) -> None:
        """Byte-align (1-fill) and emit RSTn — markers are never
        stuffed, so they bypass ``write``."""
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)
        self.buf += bytes((0xFF, 0xD0 + (n % 8)))

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # 1-fill per F.1.2.3
        return bytes(self.buf)


class _JpegBitReader:
    """MSB-first bit reader over entropy-coded data; un-stuffs 0xFF 0x00
    and stops at any other marker (the caller handles RSTn)."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        d = self.data
        if self.pos >= len(d):
            raise ValueError("truncated JPEG entropy stream")
        b = d[self.pos]
        if b == 0xFF:
            nxt = d[self.pos + 1] if self.pos + 1 < len(d) else None
            if nxt == 0x00:
                self.pos += 2
            else:
                raise _JpegMarkerHit(nxt)
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | b
        self.nbits += 8

    def bit(self) -> int:
        if not self.nbits:
            self._fill()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def align_to_marker(self) -> int:
        """Drop partial bits and consume a marker (for RSTn)."""
        self.acc = 0
        self.nbits = 0
        d = self.data
        while self.pos + 1 < len(d):
            if d[self.pos] == 0xFF and d[self.pos + 1] != 0x00:
                marker = d[self.pos + 1]
                self.pos += 2
                return marker
            self.pos += 1
        raise ValueError("truncated JPEG: expected restart marker")


class _JpegMarkerHit(Exception):
    """Internal: the entropy decoder ran into a real marker."""

    def __init__(self, marker):
        self.marker = marker


def _jpeg_huff_read(reader: _JpegBitReader, tree: dict) -> int:
    code, length = 0, 0
    while length < 16:
        code = (code << 1) | reader.bit()
        length += 1
        sym = tree.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid JPEG Huffman code")


def _jpeg_extend(v: int, t: int) -> int:
    """Sign-extend a t-bit magnitude value (T.81 F.2.2.1 EXTEND)."""
    return v - (1 << t) + 1 if t and v < (1 << (t - 1)) else v


def _jpeg_category(v: int) -> int:
    """Bit category of a DC diff / AC value (T.81 F.1.2.1.1)."""
    a, t = abs(v), 0
    while a:
        a >>= 1
        t += 1
    return t


def encode_jpeg_gray(
    data: bytes, width: int = 16, restart_interval: int = 0
) -> bytes:
    """Real baseline JFIF, 8-bit grayscale, ALL-ONES quant table (the
    near-lossless corner): payload zero-padded to the grid like the
    other gray encoders, image edge-replicated to 8-pixel block
    multiples (SOF0 keeps the TRUE dims; the decoder crops).
    ``restart_interval`` > 0 emits DRI + RSTn markers every N MCUs."""
    padded, height = _pad_to_grid(data, width)
    return _encode_jpeg_planes(
        [padded], width, height, gray=True, restart_interval=restart_interval
    )


def encode_jpeg_rgb(rgb: bytes, width: int, height: int) -> bytes:
    """Real baseline JFIF, 3-component YCbCr 4:4:4 from interleaved RGB
    bytes — exercises the decoder's multi-component scan, chroma quant/
    Huffman table selection, and color conversion."""
    if len(rgb) != width * height * 3:
        raise ValueError("rgb payload must be width*height*3 bytes")
    import numpy as np

    px = np.frombuffer(rgb, dtype=np.uint8).reshape(height, width, 3)
    r = px[:, :, 0].astype(np.float64)
    g = px[:, :, 1].astype(np.float64)
    b = px[:, :, 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168735892 * r - 0.331264108 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418687589 * g - 0.081312411 * b
    planes = [
        np.clip(np.rint(p), 0, 255).astype(np.uint8).tobytes()
        for p in (y, cb, cr)
    ]
    return _encode_jpeg_planes(planes, width, height, gray=False)


def _encode_jpeg_planes(
    planes: list[bytes],
    width: int,
    height: int,
    gray: bool,
    restart_interval: int = 0,
) -> bytes:
    import numpy as np

    m = _jpeg_dct_matrix()
    ncomp = len(planes)
    bw, bh = -(-width // 8), -(-height // 8)
    dc_tabs = [
        _jpeg_canonical_codes(*(_JPEG_STD_DC_LUM if c == 0 else _JPEG_STD_DC_CHR))
        for c in range(ncomp)
    ]
    ac_tabs = [
        _jpeg_canonical_codes(*(_JPEG_STD_AC_LUM if c == 0 else _JPEG_STD_AC_CHR))
        for c in range(ncomp)
    ]
    imgs = []
    for p in planes:
        img = np.frombuffer(p, dtype=np.uint8).reshape(height, width)
        imgs.append(
            np.pad(
                img, ((0, bh * 8 - height), (0, bw * 8 - width)), mode="edge"
            ).astype(np.float64)
            - 128.0
        )
    wr = _JpegBitWriter()
    pred = [0] * ncomp
    mcu = 0
    for by in range(bh):
        for bx in range(bw):
            if restart_interval and mcu and mcu % restart_interval == 0:
                wr.restart(mcu // restart_interval - 1)
                pred = [0] * ncomp
            mcu += 1
            for c in range(ncomp):
                block = imgs[c][by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
                coef = np.rint(m @ block @ m.T).astype(np.int64)
                zz = [int(coef.flat[_JPEG_ZIGZAG[k]]) for k in range(64)]
                diff = zz[0] - pred[c]
                pred[c] = zz[0]
                t = _jpeg_category(diff)
                code, ln = dc_tabs[c][t]
                wr.write(code, ln)
                if t:
                    wr.write(diff if diff >= 0 else diff + (1 << t) - 1, t)
                run = 0
                for k in range(1, 64):
                    v = zz[k]
                    if v == 0:
                        run += 1
                        continue
                    while run > 15:
                        code, ln = ac_tabs[c][0xF0]  # ZRL
                        wr.write(code, ln)
                        run -= 16
                    t = _jpeg_category(v)
                    code, ln = ac_tabs[c][(run << 4) | t]
                    wr.write(code, ln)
                    wr.write(v if v >= 0 else v + (1 << t) - 1, t)
                    run = 0
                if run:
                    code, ln = ac_tabs[c][0x00]  # EOB
                    wr.write(code, ln)
    scan = wr.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return bytes((0xFF, marker)) + struct.pack(">H", len(payload) + 2) + payload

    out = bytearray(b"\xff\xd8")  # SOI
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))  # DRI
    out += seg(0xDB, b"\x00" + bytes([1] * 64))  # DQT 0: all ones
    if ncomp == 3:
        out += seg(0xDB, b"\x01" + bytes([1] * 64))
    sof = bytearray(struct.pack(">BHHB", 8, height, width, ncomp))
    for c in range(ncomp):
        sof += bytes((c + 1, 0x11, 0 if (gray or c == 0) else 1))
    out += seg(0xC0, bytes(sof))  # SOF0 baseline
    for cls, tid, (bits, vals) in (
        (0, 0, _JPEG_STD_DC_LUM),
        (1, 0, _JPEG_STD_AC_LUM),
        *(() if ncomp == 1 else (
            (0, 1, _JPEG_STD_DC_CHR),
            (1, 1, _JPEG_STD_AC_CHR),
        )),
    ):
        out += seg(
            0xC4, bytes(((cls << 4) | tid,)) + bytes(bits) + bytes(vals)
        )
    sos = bytearray((ncomp,))
    for c in range(ncomp):
        tid = 0 if c == 0 else 1
        sos += bytes((c + 1, (tid << 4) | tid))
    sos += b"\x00\x3f\x00"
    out += seg(0xDA, bytes(sos))
    out += scan
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def decode_jpeg(blob: bytes) -> dict:
    """Decode baseline sequential JFIF (SOF0): tables from the file,
    1 or 3 components at 4:4:4, 8/16-bit DQT, DRI/RSTn, numpy-batched
    IDCT. Progressive (SOF2), arithmetic coding, subsampling, and
    12-bit precision raise the documented ``NotImplementedError``
    codec seam. Returns format/width/height/channels/samples (RGB for
    3-component scans, BT.601 rounding)."""
    import numpy as np

    if blob[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    qtables: dict[int, list[int]] = {}
    htrees: dict[tuple[int, int], dict] = {}
    width = height = None
    comps: list[dict] = []
    restart_interval = 0
    pos = 2
    while pos + 4 <= len(blob):
        if blob[pos] != 0xFF:
            raise ValueError("bad JPEG marker sync")
        marker = blob[pos + 1]
        if marker == 0xD9:  # EOI
            break
        (seglen,) = struct.unpack(">H", blob[pos + 2 : pos + 4])
        data = blob[pos + 4 : pos + 2 + seglen]
        if marker == 0xDB:  # DQT
            dpos = 0
            while dpos < len(data):
                prec, tid = data[dpos] >> 4, data[dpos] & 0x0F
                dpos += 1
                if prec == 0:
                    qtables[tid] = list(data[dpos : dpos + 64])
                    dpos += 64
                else:
                    qtables[tid] = [
                        struct.unpack(">H", data[dpos + 2 * k : dpos + 2 * k + 2])[0]
                        for k in range(64)
                    ]
                    dpos += 128
        elif marker == 0xC4:  # DHT
            dpos = 0
            while dpos < len(data):
                cls, tid = data[dpos] >> 4, data[dpos] & 0x0F
                bits = list(data[dpos + 1 : dpos + 17])
                n = sum(bits)
                vals = list(data[dpos + 17 : dpos + 17 + n])
                htrees[(cls, tid)] = _jpeg_decode_tree(bits, vals)
                dpos += 17 + n
        elif marker == 0xC0 or marker == 0xC1:  # SOF0/1: baseline ok
            prec, height, width, nc = struct.unpack(">BHHB", data[:6])
            if prec != 8:
                raise NotImplementedError(
                    f"JPEG subset is 8-bit baseline; got precision {prec}"
                )
            comps = []
            for c in range(nc):
                cid, hv, tq = data[6 + 3 * c : 9 + 3 * c]
                if hv != 0x11:
                    raise NotImplementedError(
                        "JPEG subset is 4:4:4 (no chroma subsampling); "
                        f"got sampling factors 0x{hv:02x}"
                    )
                comps.append({"id": cid, "tq": tq})
            if len(comps) not in (1, 3):
                raise NotImplementedError(
                    f"JPEG subset decodes 1 or 3 components; got {len(comps)}"
                )
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"JPEG subset is baseline sequential (SOF0); got SOF marker "
                f"0xFF{marker:02X} (progressive/arithmetic/hierarchical)"
            )
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", data[:2])
        elif marker == 0xDA:  # SOS
            ns = data[0]
            scan_comps = []
            for s in range(ns):
                cs, tabs = data[1 + 2 * s : 3 + 2 * s]
                comp = next(c for c in comps if c["id"] == cs)
                scan_comps.append(
                    {**comp, "td": tabs >> 4, "ta": tabs & 0x0F}
                )
            return _jpeg_decode_scan(
                blob, pos + 2 + seglen, scan_comps, qtables, htrees,
                width, height, restart_interval, np,
            )
        pos += 2 + seglen
    raise ValueError("JPEG: no SOS marker found")


def _jpeg_decode_scan(
    blob, spos, scan_comps, qtables, htrees, width, height,
    restart_interval, np,
):
    ncomp = len(scan_comps)
    bw, bh = -(-width // 8), -(-height // 8)
    n_mcu = bw * bh
    reader = _JpegBitReader(blob, spos)
    pred = [0] * ncomp
    coefs = np.zeros((ncomp, n_mcu, 64), dtype=np.float64)
    mcu = 0
    while mcu < n_mcu:
        if restart_interval and mcu and mcu % restart_interval == 0:
            marker = reader.align_to_marker()
            if not (0xD0 <= marker <= 0xD7):
                raise ValueError(
                    f"JPEG: expected RSTn at MCU {mcu}, got 0xFF{marker:02X}"
                )
            pred = [0] * ncomp
        try:
            for c, sc in enumerate(scan_comps):
                dct = htrees[(0, sc["td"])]
                act = htrees[(1, sc["ta"])]
                qt = qtables[sc["tq"]]
                t = _jpeg_huff_read(reader, dct)
                diff = _jpeg_extend(reader.bits(t), t) if t else 0
                pred[c] += diff
                block = coefs[c, mcu]
                block[0] = pred[c] * qt[0]
                k = 1
                while k < 64:
                    rs = _jpeg_huff_read(reader, act)
                    if rs == 0x00:  # EOB
                        break
                    if rs == 0xF0:  # ZRL
                        k += 16
                        continue
                    k += rs >> 4
                    t = rs & 0x0F
                    if k > 63:
                        raise ValueError("JPEG AC coefficient overflow")
                    block[_JPEG_ZIGZAG[k]] = (
                        _jpeg_extend(reader.bits(t), t) * qt[k]
                    )
                    k += 1
        except _JpegMarkerHit as hit:
            raise ValueError(
                f"JPEG entropy stream ended early at MCU {mcu} "
                f"(marker 0xFF{hit.marker:02X})"
            ) from None
        mcu += 1
    m = _jpeg_dct_matrix()
    blocks = coefs.reshape(ncomp * n_mcu, 8, 8)
    spatial = np.einsum("ki,nkl,lj->nij", m, blocks, m) + 128.0
    spatial = np.clip(np.rint(spatial), 0, 255).astype(np.uint8)
    spatial = spatial.reshape(ncomp, bh, bw, 8, 8)
    planes = [
        spatial[c].transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8)[
            :height, :width
        ]
        for c in range(ncomp)
    ]
    if ncomp == 1:
        samples = planes[0].tobytes()
        channels = 1
    else:
        y = planes[0].astype(np.float64)
        cb = planes[1].astype(np.float64) - 128.0
        cr = planes[2].astype(np.float64) - 128.0
        rgb = np.stack(
            [
                y + 1.402 * cr,
                y - 0.344136286 * cb - 0.714136286 * cr,
                y + 1.772 * cb,
            ],
            axis=-1,
        )
        samples = np.clip(np.rint(rgb), 0, 255).astype(np.uint8).tobytes()
        channels = 3
    return {
        "format": "jpeg", "width": width, "height": height,
        "channels": channels, "samples": samples,
    }


def decode_image(blob: bytes) -> dict:
    """Sniff + decode with the built-in pure-Python codecs. Raises the
    documented ``NotImplementedError`` for formats that need a native
    codec — the seam where one would plug in."""
    if blob[:8] == _PNG_SIG:
        return decode_png(blob)
    if blob[:2] == b"BM":
        return decode_bmp(blob)
    if blob[:2] == b"P6":
        return decode_ppm(blob)
    if blob[:2] == b"\xff\xd8":
        return decode_jpeg(blob)
    if blob[:6] in (b"GIF87a", b"GIF89a"):
        g = decode_gif(blob)
        pal = g["palettes"][0]
        samples = bytes(pal[3 * i] for i in g["frames_idx"][0])
        return {
            "format": "gif", "width": g["width"], "height": g["height"],
            "channels": 1, "samples": samples,
        }
    raise NotImplementedError(
        "media codecs (PIL/ffmpeg) are not available in this container for "
        "this format; built-in pure-Python codecs cover png/bmp/ppm/"
        "baseline-jpeg/gif — integrate the real decode here"
    )


#: Output of the real image-decode path: true decoded dimensions +
#: channel statistics.
IMAGE_FEATURE_SCHEMA = (
    "id long, format string, width int, height int, channels int, "
    "n_pixels long, mean_pixel double"
)


def attach_encoded_media(
    df: DataFrame, id_col: str, text_col: str, width: int = 16
) -> DataFrame:
    """Deterministic REAL media: encode each row's text bytes as a
    grayscale image — PNG, BMP, or PPM chosen by ``id % 3`` — so the
    binary column holds genuinely decodable files of mixed formats."""

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        encoders = (encode_png_gray, encode_bmp_gray, encode_ppm_gray)
        for pdf in batches:
            ids = pdf[id_col].astype("int64")
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "media": [
                        encoders[int(i) % 3](t.encode("utf-8"), width)
                        for i, t in zip(ids, pdf[text_col])
                    ],
                }
            )

    return df.select(id_col, text_col).mapInPandas(
        encode, f"{id_col} long, media binary"
    )


def decode_image_features(
    df: DataFrame, id_col: str, media_col: str = "media"
) -> DataFrame:
    """REAL decode → feature extraction over Arrow batches: sniff the
    format, run the built-in pure-Python codec (PNG inflate+defilter /
    BMP / PPM), return true width/height/channel statistics. The
    ``NotImplementedError`` seam in ``decode_image`` is unreachable for
    the built-in formats."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _id, blob in zip(pdf[id_col], pdf[media_col]):
                img = decode_image(bytes(blob))
                s = img["samples"]
                n_px = img["width"] * img["height"]
                rows.append(
                    (
                        int(_id), img["format"], img["width"], img["height"],
                        img["channels"], n_px,
                        float(sum(s)) / len(s) if s else 0.0,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "id", "format", "width", "height", "channels",
                    "n_pixels", "mean_pixel",
                ],
            ).astype(
                {"id": "int64", "width": "int32", "height": "int32",
                 "channels": "int32", "n_pixels": "int64"}
            )

    return df.select(id_col, media_col).mapInPandas(extract, IMAGE_FEATURE_SCHEMA)


#: Output of the JPEG roundtrip-fidelity kernel: exact decoded geometry
#: plus the documented decode-error contract as boolean verdicts.
JPEG_ROUNDTRIP_SCHEMA = (
    "id long, variant string, width int, height int, channels int, "
    "n_pixels long, restart_interval int, max_err_ok boolean, "
    "mean_err_ok boolean"
)

#: Decode-error contract for the all-ones-quant (near-lossless) corner
#: of baseline JPEG: per-pixel |err| and mean |err| ceilings per
#: variant. Empirical worst case over every sf0.1 document (5000 docs,
#: both variants): gray max 1 / mean 0.172, rgb max 4 / mean 0.594 —
#: the bounds below leave >=2x margin while still failing loudly on
#: any real decoder defect (a wrong coefficient shifts a pixel by
#: quant-table-scale amounts, far beyond these ceilings).
JPEG_MAX_ERR = {"gray": 2, "rgb": 8}
JPEG_MEAN_ERR = {"gray": 1.0, "rgb": 1.5}


def jpeg_roundtrip_features(
    df: DataFrame, id_col: str, text_col: str, width: int = 16
) -> DataFrame:
    """REAL JPEG path, end to end on executors: encode each row's text
    bytes as baseline JFIF — a grayscale leg (DRI/RSTn restart markers
    every 4 MCUs for ``id % 4 == 0``) and a 3-component YCbCr 4:4:4 RGB
    leg per row — then decode through the same ``decode_image`` sniff
    dispatch the fingerprint/dedup family uses, and verify the decoded
    samples against the original payload under the documented
    near-lossless error contract (``JPEG_MAX_ERR``/``JPEG_MEAN_ERR``).

    Output geometry (width/height/channels/n_pixels) is byte-arithmetic
    — exactly replayable by any SQL engine from ``octet_length(text)``
    — while the lossy-decode fidelity collapses to deterministic
    boolean verdicts, so the whole result stays hash-checkable despite
    DCT rounding. One Arrow-batched ``mapInPandas`` projection over a
    single scan: no driver collect, and the only possible exchange is
    the under-split scan rescue (``functions.scan_parallelism``: a small
    corpus is one parquet split, and the codec work is CPU-bound Python
    per row) — at 100 TB the codec work is embarrassingly parallel per
    input split and the rescue is a no-op."""
    import numpy as np

    def roundtrip(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _id, text in zip(pdf[id_col], pdf[text_col]):
                _id = int(_id)
                data = text.encode("utf-8")
                # gray leg (restart markers on every 4th id)
                ri = 4 if _id % 4 == 0 else 0
                img = decode_image(
                    encode_jpeg_gray(data, width, restart_interval=ri)
                )
                padded, h = _pad_to_grid(data, width)
                orig = np.frombuffer(padded, dtype=np.uint8).astype(np.int64)
                dec = np.frombuffer(
                    img["samples"], dtype=np.uint8
                ).astype(np.int64)
                err = np.abs(orig - dec)
                rows.append((
                    _id, "gray", img["width"], img["height"],
                    img["channels"], img["width"] * img["height"], ri,
                    bool(err.max(initial=0) <= JPEG_MAX_ERR["gray"]),
                    bool(float(err.mean()) <= JPEG_MEAN_ERR["gray"]),
                ))
                # rgb leg: the same bytes as interleaved RGB rows
                n = len(data)
                h3 = max(1, -(-n // (width * 3)))
                rgb = data + bytes(width * h3 * 3 - n)
                img = decode_image(encode_jpeg_rgb(rgb, width, h3))
                orig = np.frombuffer(rgb, dtype=np.uint8).astype(np.int64)
                dec = np.frombuffer(
                    img["samples"], dtype=np.uint8
                ).astype(np.int64)
                err = np.abs(orig - dec)
                rows.append((
                    _id, "rgb", img["width"], img["height"],
                    img["channels"], img["width"] * img["height"], 0,
                    bool(err.max(initial=0) <= JPEG_MAX_ERR["rgb"]),
                    bool(float(err.mean()) <= JPEG_MEAN_ERR["rgb"]),
                ))
            yield pd.DataFrame(
                rows,
                columns=[
                    "id", "variant", "width", "height", "channels",
                    "n_pixels", "restart_interval", "max_err_ok",
                    "mean_err_ok",
                ],
            ).astype(
                {"id": "int64", "width": "int32", "height": "int32",
                 "channels": "int32", "n_pixels": "int64",
                 "restart_interval": "int32"}
            )

    return scan_parallelism(df.select(id_col, text_col)).mapInPandas(
        roundtrip, JPEG_ROUNDTRIP_SCHEMA
    )


def _resample_nearest(
    samples: bytes, width: int, height: int, channels: int,
    new_w: int, new_h: int,
) -> bytes:
    """Nearest-neighbor resample of a row-major sample buffer."""
    out = bytearray()
    for y in range(new_h):
        sy = y * height // new_h
        row_off = sy * width * channels
        for x in range(new_w):
            sx = x * width // new_w
            off = row_off + sx * channels
            out += samples[off : off + channels]
    return bytes(out)


def resize_images(
    df: DataFrame,
    id_col: str,
    media_col: str = "media",
    target_w: int = 8,
    target_h: int = 8,
) -> DataFrame:
    """REAL image resize over Arrow batches: decode (any built-in
    format), nearest-neighbor resample to ``target_w × target_h``,
    re-encode as PNG (grayscale stays color type 0; RGB sources emit
    gray by channel-mean — thumbnail semantics). The binary→binary
    mapInPandas shape with genuine codecs on both ends."""

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rows = []
        for pdf in batches:
            for _id, blob in zip(pdf[id_col], pdf[media_col]):
                img = decode_image(bytes(blob))
                small = _resample_nearest(
                    img["samples"], img["width"], img["height"],
                    img["channels"], target_w, target_h,
                )
                ch = img["channels"]
                if ch > 1:  # channel-mean → grayscale thumbnail
                    small = bytes(
                        sum(small[i : i + ch]) // ch
                        for i in range(0, len(small), ch)
                    )
                rows.append((int(_id), encode_png_gray(small, target_w)))
            yield pd.DataFrame(rows, columns=["id", "thumb"])
            rows = []

    return df.select(id_col, media_col).mapInPandas(
        resize, "id long, thumb binary"
    )


#: Bins in the row-profile perceptual fingerprint (bits in the hash).
FP_BINS = 16


def image_fingerprints(
    df: DataFrame, id_col: str, media_col: str = "media", bins: int = FP_BINS
) -> DataFrame:
    """CONTAINER-INVARIANT perceptual image fingerprint — the image-dedup
    primitive: decode (any built-in format), reduce to the gray pixel
    stream, fold the rows into ``bins`` horizontal bands, and set bit b
    when band b's mean luminance >= the image's overall mean. The same
    picture fingerprints identically whether it arrived as PNG, BMP, or
    PPM (replicated RGB channels collapse back to the gray values), so
    re-encoded duplicates collide — exact-dedup machinery (hash groupBy)
    then works on images. aHash-style robustness, fixed 16-bit output
    for any image height; bit comparisons are exact-integer-sum /
    count divisions, bit-reproducible on any engine."""
    import numpy as np

    def fp(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _id, blob in zip(pdf[id_col], pdf[media_col]):
                img = decode_image(bytes(blob))
                s = np.frombuffer(img["samples"], dtype=np.uint8)[
                    :: img["channels"]
                ].astype(np.int64)
                w, h = img["width"], img["height"]
                overall = s.sum() / s.size
                band = (np.arange(s.size) // w) * bins // h
                sums = np.bincount(band, weights=s, minlength=bins)
                counts = np.bincount(band, minlength=bins)
                bits = 0
                for b in range(bins):
                    if counts[b] > 0 and (sums[b] / counts[b]) >= overall:
                        bits |= 1 << b
                rows.append((int(_id), int(h), int(bits)))
            yield pd.DataFrame(
                rows, columns=["id", "height", "fingerprint"]
            )

    return df.select(id_col, media_col).mapInPandas(
        fp, "id long, height int, fingerprint long"
    )


def video_fingerprints(
    df: DataFrame, id_col: str, media_col: str = "media"
) -> DataFrame:
    """Per-FRAME luma-bit fingerprint over the REAL y4m decode — the
    video-dedup member of the fingerprint family: one bit per frame,
    set when the frame's mean luma >= the whole stream's mean (temporal
    brightness profile). Streams longer than 62 frames fold frame f
    onto bit f % 62, keeping the output a single BIGINT for any
    duration. Re-muxed/re-transferred copies of the same frames
    collide; integer-exact sums keep the bits engine-independent."""
    import numpy as np

    def fp(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _id, blob in zip(pdf[id_col], pdf[media_col]):
                v = decode_y4m(bytes(blob))
                frames = v["frames"]
                sums = [
                    int(np.frombuffer(f, dtype=np.uint8).sum())
                    for f in frames
                ]
                fsz = v["width"] * v["height"]
                total = sum(sums)
                n = len(frames) * fsz
                bits = 0
                if n:
                    overall = total / n
                    for i, s in enumerate(sums):
                        if s / fsz >= overall:
                            bits |= 1 << (i % 62)
                rows.append((int(_id), len(frames), int(bits)))
            yield pd.DataFrame(
                rows, columns=["id", "n_frames", "fingerprint"]
            )

    return df.select(id_col, media_col).mapInPandas(
        fp, "id long, n_frames int, fingerprint long"
    )


def audio_fingerprints(
    df: DataFrame, id_col: str, media_col: str = "media", bins: int = FP_BINS
) -> DataFrame:
    """Time-band energy fingerprint over the REAL WAV decode path — the
    audio-dedup twin of :func:`image_fingerprints`: the 8-bit PCM
    sample stream folds into ``bins`` consecutive time bands; bit b is
    set when band b's mean amplitude >= the clip's overall mean. Fixed
    16-bit output for any clip length, integer-exact decisions, empty
    clips fingerprint 0."""
    import numpy as np

    def fp(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _id, blob in zip(pdf[id_col], pdf[media_col]):
                au = decode_wav(bytes(blob))
                s = np.frombuffer(au["samples"], dtype=np.uint8).astype(
                    np.int64
                )
                bits = 0
                if s.size:
                    overall = s.sum() / s.size
                    band = np.arange(s.size) * bins // s.size
                    sums = np.bincount(band, weights=s, minlength=bins)
                    counts = np.bincount(band, minlength=bins)
                    for b in range(bins):
                        if counts[b] > 0 and (sums[b] / counts[b]) >= overall:
                            bits |= 1 << b
                rows.append((int(_id), int(s.size), int(bits)))
            yield pd.DataFrame(
                rows, columns=["id", "n_samples", "fingerprint"]
            )

    return df.select(id_col, media_col).mapInPandas(
        fp, "id long, n_samples long, fingerprint long"
    )


# ===========================================================================
# Audio (PCM WAV via stdlib `wave`) and video (YUV4MPEG2 / .y4m — the
# plain-header raw-frame format) codecs: with these, all three media
# modalities decode for real in this container.
# ===========================================================================


def encode_wav_pcm(data: bytes, sample_rate: int = 8000) -> bytes:
    """Real RIFF/WAVE file: 8-bit unsigned PCM, mono — each payload byte
    is one audio sample."""
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(1)
        w.setframerate(sample_rate)
        w.writeframes(data)
    return buf.getvalue()


def decode_wav(blob: bytes) -> dict:
    """Decode PCM WAV via stdlib ``wave``: 8-bit mono/stereo subsets.
    Returns sample_rate / channels / n_samples / duration_ms / samples."""
    import io
    import wave

    with wave.open(io.BytesIO(blob), "rb") as w:
        if w.getsampwidth() != 1:
            raise NotImplementedError(
                f"WAV subset supported is 8-bit PCM; got sampwidth="
                f"{w.getsampwidth()}"
            )
        rate = w.getframerate()
        channels = w.getnchannels()
        frames = w.readframes(w.getnframes())
    n_frames = len(frames) // max(channels, 1)
    return {
        "format": "wav",
        "sample_rate": rate,
        "channels": channels,
        "n_samples": n_frames,
        "duration_ms": n_frames * 1000 // rate if rate else 0,
        "samples": frames,
    }


def encode_y4m_mono(
    data: bytes, width: int = 8, height: int = 8, fps: int = 5
) -> bytes:
    """Real YUV4MPEG2 stream (Cmono: one W×H luma plane per frame):
    payload bytes fill frames in order, zero-padded to a whole frame."""
    fsz = width * height
    n_frames = max(1, -(-len(data) // fsz))
    padded = data + b"\x00" * (n_frames * fsz - len(data))
    head = f"YUV4MPEG2 W{width} H{height} F{fps}:1 Ip A1:1 Cmono\n".encode()
    body = b"".join(
        b"FRAME\n" + padded[i * fsz : (i + 1) * fsz] for i in range(n_frames)
    )
    return head + body


def decode_y4m(blob: bytes) -> dict:
    """Decode YUV4MPEG2 (Cmono subset): parse the parameter header,
    split FRAME blocks, return per-frame luma planes."""
    nl = blob.index(b"\n")
    header = blob[:nl].decode("ascii", "strict")
    if not header.startswith("YUV4MPEG2"):
        raise ValueError("not a YUV4MPEG2 stream")
    width = height = fps = None
    colorspace = "C420"
    for tok in header.split()[1:]:
        if tok[0] == "W":
            width = int(tok[1:])
        elif tok[0] == "H":
            height = int(tok[1:])
        elif tok[0] == "F":
            fps = int(tok[1:].split(":")[0])
        elif tok[0] == "C":
            colorspace = tok
    if colorspace != "Cmono":
        raise NotImplementedError(
            f"y4m subset supported is Cmono; got {colorspace}"
        )
    fsz = width * height
    frames = []
    pos = nl + 1
    while pos < len(blob):
        fnl = blob.index(b"\n", pos)
        if not blob[pos:fnl].startswith(b"FRAME"):
            raise ValueError("bad y4m FRAME marker")
        if len(blob) - (fnl + 1) < fsz:
            raise ValueError(
                f"truncated y4m frame: need {fsz} luma bytes, "
                f"have {len(blob) - fnl - 1}"
            )
        frames.append(blob[fnl + 1 : fnl + 1 + fsz])
        pos = fnl + 1 + fsz
    return {
        "format": "y4m",
        "width": width,
        "height": height,
        "fps": fps,
        "n_frames": len(frames),
        "frames": frames,
    }


def attach_encoded_audio(
    df: DataFrame, id_col: str, text_col: str, sample_rate: int = 8000
) -> DataFrame:
    """Deterministic REAL audio: each row's text bytes become the PCM
    samples of a genuine WAV file."""

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].astype("int64"),
                    "media": [
                        encode_wav_pcm(t.encode("utf-8"), sample_rate)
                        for t in pdf[text_col]
                    ],
                }
            )

    return df.select(id_col, text_col).mapInPandas(
        encode, f"{id_col} long, media binary"
    )


def decode_audio_features(
    df: DataFrame, id_col: str, media_col: str = "media"
) -> DataFrame:
    """REAL audio decode over Arrow batches: WAV container parse via
    stdlib, true sample-rate/duration/amplitude statistics out."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _id, blob in zip(pdf[id_col], pdf[media_col]):
                a = decode_wav(bytes(blob))
                s = a["samples"]
                rows.append(
                    (
                        int(_id), a["sample_rate"], a["channels"],
                        a["n_samples"], a["duration_ms"],
                        float(sum(s)) / len(s) if s else 0.0,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=["id", "sample_rate", "channels", "n_samples",
                         "duration_ms", "mean_sample"],
            ).astype(
                {"id": "int64", "sample_rate": "int32", "channels": "int32",
                 "n_samples": "int64", "duration_ms": "int64"}
            )

    return df.select(id_col, media_col).mapInPandas(
        extract,
        "id long, sample_rate int, channels int, n_samples long, "
        "duration_ms long, mean_sample double",
    )


# ===========================================================================
# GIF (GIF89a, LZW) — the palette/animation container: real variable-
# width LSB-first LZW decode, multi-frame streams, grayscale identity
# palette so decoded indices ARE the gray values (exact-arithmetic
# oracles, unlike the lossy JPEG corner). Subset seams (same discipline
# as the JPEG decoder): interlaced images and partial-canvas frames
# raise the documented NotImplementedError.
# ===========================================================================


def _gif_lzw_encode_uncompressed(indices: bytes) -> bytes:
    """LZW stream for 8-bit indices in the classic 'uncompressed'
    style: emit each pixel as its own literal code at 9-bit width,
    inserting a CLEAR every 254 literals so the dictionary never grows
    past 9 bits. Valid LZW any decoder accepts."""
    clear, eoi = 256, 257
    out = bytearray()
    acc = nbits = 0

    def put(code: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits  # LSB-first packing
        nbits += 9
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    put(clear)
    for i, b in enumerate(indices):
        if i and i % 254 == 0:
            put(clear)
        put(b)
    put(eoi)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def encode_gif_gray(
    data: bytes, width: int = 16, n_frames: int = 1
) -> bytes:
    """Real animated GIF89a: grayscale identity palette (entry i =
    (i,i,i)), payload padded to the grid, frame ``fi`` is the padded
    byte plane rotated left by ``fi`` (deterministic animation whose
    every frame is byte-arithmetic replayable), full-canvas frames with
    a graphic-control delay."""
    padded, height = _pad_to_grid(data, width)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", width, height)
    out += bytes((0xF7, 0, 0))  # GCT present, 256 entries, 8-bit color
    for i in range(256):
        out += bytes((i, i, i))
    for fi in range(n_frames):
        out += bytes((0x21, 0xF9, 4, 0x00)) + struct.pack("<H", 4) + bytes(
            (0, 0)
        )  # GCE: delay 4cs, no transparency
        out += b"\x2c" + struct.pack("<HHHH", 0, 0, width, height) + b"\x00"
        out += bytes((8,))  # LZW min code size
        rot = fi % len(padded)
        stream = _gif_lzw_encode_uncompressed(padded[rot:] + padded[:rot])
        for off in range(0, len(stream), 255):
            chunk = stream[off : off + 255]
            out += bytes((len(chunk),)) + chunk
        out += b"\x00"  # block terminator
    out += b"\x3b"  # trailer
    return bytes(out)


def _gif_lzw_decode(min_code: int, data: bytes, expected: int) -> bytes:
    """Full variable-width LSB-first GIF LZW decode (clear / EOI /
    KwKwK case, widths up to 12 bits)."""
    clear = 1 << min_code
    eoi = clear + 1
    out = bytearray()
    acc = nbits = pos = 0
    width = min_code + 1
    dictionary: list[bytes] = [bytes((i,)) for i in range(clear)] + [b"", b""]
    prev: bytes | None = None

    def read() -> int | None:
        nonlocal acc, nbits, pos
        while nbits < width:
            if pos >= len(data):
                return None
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        return code

    while True:
        code = read()
        if code is None or code == eoi:
            break
        if code == clear:
            dictionary = dictionary[: clear + 2]
            width = min_code + 1
            prev = None
            continue
        if code < len(dictionary):
            entry = dictionary[code]
        elif code == len(dictionary) and prev is not None:
            entry = prev + prev[:1]  # KwKwK
        else:
            raise ValueError("corrupt GIF LZW stream")
        out += entry
        if prev is not None and len(dictionary) < 4096:
            dictionary.append(prev + entry[:1])
        if len(dictionary) == (1 << width) and width < 12:
            width += 1
        prev = entry
        if len(out) >= expected:
            break
    if len(out) < expected:
        raise ValueError("truncated GIF: LZW stream ended early")
    return bytes(out[:expected])


def decode_gif(blob: bytes) -> dict:
    """Decode GIF87a/89a: global/local color tables, multi-frame
    streams, full LZW. Subset seams: interlaced images and frames not
    covering the full canvas at (0,0) raise NotImplementedError (the
    encoder here never emits them; real-world partial frames need
    disposal-method compositing — out of scope by contract)."""
    if blob[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    width, height = struct.unpack("<HH", blob[6:10])
    flags = blob[10]
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        gct = blob[pos : pos + 3 * n]
        pos += 3 * n
    frames_idx: list[bytes] = []
    palettes: list[bytes] = []
    while pos < len(blob):
        b = blob[pos]
        if b == 0x3B:  # trailer
            break
        if b == 0x21:  # extension: label + sub-blocks
            pos += 2
            while blob[pos] != 0:
                pos += 1 + blob[pos]
            pos += 1
            continue
        if b != 0x2C:
            raise ValueError(f"unexpected GIF block 0x{b:02X}")
        left, top, fw, fh = struct.unpack("<HHHH", blob[pos + 1 : pos + 9])
        fflags = blob[pos + 9]
        pos += 10
        if fflags & 0x40:
            raise NotImplementedError(
                "GIF subset is non-interlaced; interlaced frame found"
            )
        if (left, top, fw, fh) != (0, 0, width, height):
            raise NotImplementedError(
                "GIF subset is full-canvas frames at (0,0); partial "
                "frames need disposal compositing"
            )
        pal = gct
        if fflags & 0x80:
            n = 2 << (fflags & 0x07)
            pal = blob[pos : pos + 3 * n]
            pos += 3 * n
        if pal is None:
            raise ValueError("GIF frame has no color table")
        min_code = blob[pos]
        pos += 1
        stream = bytearray()
        while blob[pos] != 0:
            ln = blob[pos]
            stream += blob[pos + 1 : pos + 1 + ln]
            pos += 1 + ln
        pos += 1
        frames_idx.append(
            _gif_lzw_decode(min_code, bytes(stream), fw * fh)
        )
        palettes.append(bytes(pal))
    return {
        "format": "gif",
        "width": width,
        "height": height,
        "n_frames": len(frames_idx),
        "frames_idx": frames_idx,
        "palettes": palettes,
    }


#: Polynomial-hash constants for the order-sensitive frame fingerprint
#: (the rolling_hash pair — oracle-shared).
_GIF_FP_MULT = 31
_GIF_FP_MOD = 1_000_000_007


def gif_frame_features(
    df: DataFrame, id_col: str, text_col: str, width: int = 16
) -> DataFrame:
    """REAL animated-GIF path end to end on executors (the 1→N frame
    explode shape): each row's text bytes become a genuine multi-frame
    GIF89a (``1 + id % 3`` frames, LZW-compressed), decoded back
    through the full variable-width LZW decoder, indices mapped through
    the file's color table. Emits per frame the exact geometry, the
    (rotation-invariant) mean pixel, and an ORDER-SENSITIVE polynomial
    fingerprint of the decoded bytes — a single transposed/dropped
    pixel anywhere in the LZW pipeline changes it, so the hash check
    gates the decoder, not just the header parse. One Arrow-batched
    ``mapInPandas``; no shuffle, no collect."""

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _id, text in zip(pdf[id_col], pdf[text_col]):
                _id = int(_id)
                n_frames = 1 + _id % 3
                blob = encode_gif_gray(
                    text.encode("utf-8"), width, n_frames=n_frames
                )
                v = decode_gif(blob)
                for fi, idx in enumerate(v["frames_idx"]):
                    pal = v["palettes"][fi]
                    gray = bytes(pal[3 * i] for i in idx)
                    fp = 0
                    for b in gray:
                        fp = (fp * _GIF_FP_MULT + b) % _GIF_FP_MOD
                    rows.append(
                        (
                            _id, fi, v["n_frames"], v["width"],
                            v["height"],
                            float(sum(gray)) / len(gray) if gray else 0.0,
                            fp,
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=["id", "frame_idx", "n_frames", "width",
                         "height", "mean_px", "frame_fp"],
            ).astype(
                {"id": "int64", "frame_idx": "int32", "n_frames": "int32",
                 "width": "int32", "height": "int32", "frame_fp": "int64"}
            )

    return scan_parallelism(df.select(id_col, text_col)).mapInPandas(
        sample,
        "id long, frame_idx int, n_frames int, width int, height int, "
        "mean_px double, frame_fp long",
    )


def attach_encoded_video(
    df: DataFrame, id_col: str, text_col: str,
    width: int = 8, height: int = 8,
) -> DataFrame:
    """Deterministic REAL video: each row's text bytes fill the luma
    planes of a genuine multi-frame YUV4MPEG2 stream."""

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].astype("int64"),
                    "media": [
                        encode_y4m_mono(t.encode("utf-8"), width, height)
                        for t in pdf[text_col]
                    ],
                }
            )

    return df.select(id_col, text_col).mapInPandas(
        encode, f"{id_col} long, media binary"
    )


def sample_video_frames(
    df: DataFrame, id_col: str, media_col: str = "media", stride: int = 2
) -> DataFrame:
    """REAL video frame sampling (1→N explode): decode the y4m stream,
    keep every ``stride``-th frame, emit per-frame luma statistics —
    the frame-extraction shape of a video training pipeline, with a
    genuine container format end-to-end."""

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _id, blob in zip(pdf[id_col], pdf[media_col]):
                v = decode_y4m(bytes(blob))
                for fi in range(0, v["n_frames"], stride):
                    fr = v["frames"][fi]
                    rows.append(
                        (
                            int(_id), v["n_frames"], v["width"], v["height"],
                            fi, float(sum(fr)) / len(fr) if fr else 0.0,
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=["id", "n_frames", "width", "height",
                         "frame_idx", "mean_luma"],
            ).astype(
                {"id": "int64", "n_frames": "int64", "width": "int32",
                 "height": "int32", "frame_idx": "int32"}
            )

    return df.select(id_col, media_col).mapInPandas(
        sample,
        "id long, n_frames long, width int, height int, frame_idx int, "
        "mean_luma double",
    )
