"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image/audio/video payloads ride as `binary` columns; decode / feature
extraction / resize / frame-sample run as Arrow-batched pandas functions
over ``mapInPandas``. Every container format the sniffer recognizes has a
REAL pixel/sample codec implemented here from the specs (no codec
libraries in this container): PNG (zlib IDAT + all five scanline
filters), GIF (full LZW), baseline JPEG (canonical Huffman + IDCT), WAV
(PCM16). Binary-payload MODEL embeddings are out of scope (torch not
in container); text embeddings are real (operators/similarity.hashing_embed).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, types as T

# ---------------------------------------------------------------------------
# REAL header parsing — pure byte inspection, no codec libraries needed.
# Pixel/sample decode for png/gif/jpeg/wav is REAL too (below).
# ---------------------------------------------------------------------------

MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("media_format", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("channels", T.IntegerType(), True),
        T.StructField("n_bytes", T.LongType(), True),
    ]
)


def _parse_header(b: bytes):
    """(format, width, height, sample_rate, channels) from magic bytes.

    Real container-header parsing: PNG IHDR, GIF logical screen descriptor,
    JPEG SOF segment walk, WAV fmt chunk. Unknown formats → ('unknown',
    None, ...) — routed like a dead letter by callers that care."""
    import struct

    n = len(b)
    if n >= 24 and b[:8] == b"\x89PNG\r\n\x1a\n" and b[12:16] == b"IHDR":
        w, h = struct.unpack(">II", b[16:24])
        return "png", w, h, None, None
    if n >= 10 and b[:6] in (b"GIF87a", b"GIF89a"):
        w, h = struct.unpack("<HH", b[6:10])
        return "gif", w, h, None, None
    if n >= 4 and b[:2] == b"\xff\xd8":
        # JPEG: walk segments to the first SOF0/1/2 frame header
        i = 2
        while i + 9 < n:
            if b[i] != 0xFF:
                break
            marker = b[i + 1]
            if marker in (0xC0, 0xC1, 0xC2):
                h, w = struct.unpack(">HH", b[i + 5 : i + 9])
                return "jpeg", w, h, None, None
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                i += 2
                continue
            seg_len = struct.unpack(">H", b[i + 2 : i + 4])[0]
            i += 2 + seg_len
        return "jpeg", None, None, None, None
    if n >= 36 and b[:4] == b"RIFF" and b[8:12] == b"WAVE" and b[12:16] == b"fmt ":
        channels = struct.unpack("<H", b[22:24])[0]
        sample_rate = struct.unpack("<I", b[24:28])[0]
        return "wav", None, None, sample_rate, channels
    return "unknown", None, None, None, None


def media_meta(df: DataFrame) -> DataFrame:
    """binary payload → sniffed format + REAL header metadata.

    Expects (doc_id, payload); the header walk is per-row Python over the
    first bytes only — at 100 TB this stays cheap because it never touches
    the payload body (no decode, no copy) and runs partition-parallel."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            parsed = [
                _parse_header(bytes(p)) if p is not None else (None,) * 5
                for p in pdf["payload"]
            ]
            fmt, w, h, sr, ch = (list(x) for x in zip(*parsed)) if parsed else ([],) * 5
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_format": fmt,
                    "width": pd.array(w, dtype="Int32"),
                    "height": pd.array(h, dtype="Int32"),
                    "sample_rate": pd.array(sr, dtype="Int32"),
                    "channels": pd.array(ch, dtype="Int32"),
                    "n_bytes": pdf["payload"].map(
                        lambda b: len(b) if b is not None else None
                    ).astype("Int64"),
                }
            )

    return df.mapInPandas(run, schema=MEDIA_META_SCHEMA)


# ---------------------------------------------------------------------------
# REAL pixel/sample codecs — pure stdlib (+ numpy for the JPEG DCT), no
# PIL/ffmpeg. PNG: 8-bit grayscale encode/decode with all five scanline
# filters. WAV: PCM16. GIF: full LZW (below). JPEG: baseline grayscale
# Huffman + IDCT (below).
# ---------------------------------------------------------------------------


def _png_chunk(tag: bytes, body: bytes) -> bytes:
    import struct
    import zlib

    return struct.pack(">I", len(body)) + tag + body + struct.pack(
        ">I", zlib.crc32(tag + body) & 0xFFFFFFFF
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def encode_png_gray8(width: int, height: int, values, row_filter=None) -> bytes:
    """Minimal REAL PNG encoder: 8-bit grayscale, zlib-compressed IDAT,
    correct CRCs; `row_filter(y) -> 0..4` picks the scanline filter (default
    cycles through all five so decoders must implement every unfilter)."""
    import struct
    import zlib

    assert len(values) == width * height
    rf = row_filter if row_filter is not None else (lambda y: y % 5)
    raw = bytearray()
    prior = [0] * width
    for y in range(height):
        row = [int(v) & 0xFF for v in values[y * width : (y + 1) * width]]
        ft = rf(y)
        raw.append(ft)
        for x in range(width):
            left = row[x - 1] if x else 0
            up, ul = prior[x], (prior[x - 1] if x else 0)
            if ft == 0:
                f = row[x]
            elif ft == 1:
                f = row[x] - left
            elif ft == 2:
                f = row[x] - up
            elif ft == 3:
                f = row[x] - ((left + up) >> 1)
            else:
                f = row[x] - _paeth(left, up, ul)
            raw.append(f & 0xFF)
        prior = row
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )


def _codec_guard(fn):
    """Codecs parse UNTRUSTED payload bytes: any failure class a hostile
    byte stream can provoke (short struct unpacks, bad zlib streams, index
    overruns from lying length fields) must surface as ValueError — the
    contract the mapInPandas wrappers and fuzz tests rely on — never as a
    stray TypeError/IndexError/struct.error."""
    import functools
    import struct
    import zlib

    @functools.wraps(fn)
    def inner(*a, **k):
        try:
            return fn(*a, **k)
        except (ValueError, NotImplementedError):
            raise
        except (
            struct.error, zlib.error, IndexError, TypeError, KeyError, OverflowError
        ) as e:
            raise ValueError(
                f"malformed payload in {fn.__name__}: {type(e).__name__}: {e}"
            ) from e

    return inner


# hostile header fields could otherwise demand multi-GB allocations
MAX_DECODE_PIXELS = 1 << 26


@_codec_guard
def decode_png_gray8(b: bytes) -> list[int]:
    """REAL PNG decode for 8-bit grayscale: chunk walk, IDAT inflate,
    scanline unfilter (all five filter types). Raises on other color types /
    bit depths (out of scope for this engine's fixtures)."""
    import struct
    import zlib

    if b[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    i, width, height, idat = 8, None, None, bytearray()
    while i + 8 <= len(b):
        (length,) = struct.unpack(">I", b[i : i + 4])
        tag = b[i + 4 : i + 8]
        body = b[i + 8 : i + 8 + length]
        if tag == b"IHDR":
            width, height, depth, ctype = struct.unpack(">IIBB", body[:10])
            if depth != 8 or ctype != 0:
                raise NotImplementedError("only 8-bit grayscale PNG supported")
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
        i += 12 + length
    if width is None:
        raise ValueError("PNG has no IHDR chunk")
    if width * height > MAX_DECODE_PIXELS or width == 0:
        raise ValueError(f"PNG dimensions {width}x{height} out of range")
    raw = zlib.decompressobj().decompress(
        bytes(idat), max_length=height * (width + 1) + 1
    )
    if len(raw) != height * (width + 1):
        raise ValueError(
            f"PNG IDAT inflates to {len(raw)} bytes, expected {height * (width + 1)}"
        )
    out: list[int] = []
    prior = [0] * width
    for y in range(height):
        ft = raw[y * (width + 1)]
        line = raw[y * (width + 1) + 1 : (y + 1) * (width + 1)]
        row: list[int] = []
        for x in range(width):
            left = row[x - 1] if x else 0
            up, ul = prior[x], (prior[x - 1] if x else 0)
            if ft == 0:
                v = line[x]
            elif ft == 1:
                v = line[x] + left
            elif ft == 2:
                v = line[x] + up
            elif ft == 3:
                v = line[x] + ((left + up) >> 1)
            elif ft == 4:
                v = line[x] + _paeth(left, up, ul)
            else:
                raise ValueError(f"bad PNG filter type {ft}")
            row.append(v & 0xFF)
        out.extend(row)
        prior = row
    return out


def encode_wav_pcm16(samples, sample_rate: int, channels: int = 1) -> bytes:
    """REAL WAV/PCM16 encoder: RIFF + fmt + data chunks (samples are
    interleaved int16 values; len(samples) must be a channel multiple)."""
    import struct

    data = struct.pack(f"<{len(samples)}h", *[int(s) for s in samples])
    fmt = struct.pack(
        "<IHHIIHH", 16, 1, channels, sample_rate,
        sample_rate * channels * 2, channels * 2, 16,
    )
    return (
        b"RIFF" + struct.pack("<I", 20 + len(fmt) + len(data)) + b"WAVE"
        + b"fmt " + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )


@_codec_guard
def decode_wav_pcm16(b: bytes) -> list[int]:
    """REAL WAV decode: chunk walk to `data`, unpack interleaved int16 PCM."""
    import struct

    if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a WAV")
    i = 12
    while i + 8 <= len(b):
        tag = b[i : i + 4]
        (length,) = struct.unpack("<I", b[i + 4 : i + 8])
        if tag == b"fmt ":
            audio_fmt, _ch, _sr = struct.unpack("<HHI", b[i + 8 : i + 16])
            if audio_fmt != 1:
                raise NotImplementedError("only PCM WAV supported")
        elif tag == b"data":
            body = b[i + 8 : i + 8 + length]
            return list(struct.unpack(f"<{length // 2}h", body[: length // 2 * 2]))
        i += 8 + length + (length & 1)
    raise ValueError("WAV data chunk not found")


# --- GIF: REAL LZW codec, pure stdlib ------------------------------------
# Full GIF89a pixel path: logical-screen + color-table walk, sub-block
# reassembly, and a complete LZW implementation — variable code width
# (9→12 bit, LSB-first packing), clear/end codes, dictionary growth with
# the KwKwK self-reference case, and encoder-side clear on table overflow.
# (Reference parity note: the reference engine has no image path at all;
# this is part of the training-data-pipeline surface, SURVEY.md §LLM.)


class _LZWBitWriter:
    """LSB-first variable-width code packer (GIF Appendix F)."""

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, width: int) -> None:
        self.acc |= code << self.nbits
        self.nbits += width
        while self.nbits >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nbits -= 8

    def finish(self) -> bytes:
        if self.nbits:
            self.out.append(self.acc & 0xFF)
        return bytes(self.out)


def _lzw_encode_gif(data: bytes, min_code_size: int) -> bytes:
    """GIF-flavor LZW: emits CLEAR first, grows code width as the decoder's
    table does (encoder runs one table entry ahead of the decoder, so the
    width test uses next_code ≤ 2^width — verified by the round-trip and
    hand-built-stream tests), CLEARs before the 12-bit table overflows."""
    clear = 1 << min_code_size
    end = clear + 1
    bw = _LZWBitWriter()

    def width(next_code: int) -> int:
        w = min_code_size + 1
        while next_code > (1 << w) and w < 12:
            w += 1
        return w

    table = {bytes([i]): i for i in range(clear)}
    next_code = end + 1
    bw.write(clear, width(next_code))
    w_str = b""
    for byte in data:
        wk = w_str + bytes([byte])
        if wk in table:
            w_str = wk
            continue
        bw.write(table[w_str], width(next_code))
        if next_code < 4095:
            table[wk] = next_code
            next_code += 1
        else:  # table nearly full: reset both sides in lockstep
            bw.write(clear, width(next_code))
            table = {bytes([i]): i for i in range(clear)}
            next_code = end + 1
        w_str = bytes([byte])
    if w_str:
        bw.write(table[w_str], width(next_code))
        next_code += 1  # the decoder will add one more entry before END
    bw.write(end, width(next_code))
    return bw.finish()


def _lzw_decode_gif(data: bytes, min_code_size: int) -> bytes:
    """Inverse of the above: LSB-first codes, clear/end, KwKwK growth."""
    clear = 1 << min_code_size
    end = clear + 1
    table: list[bytes] = []
    code_width = min_code_size + 1
    next_code = end + 1
    out = bytearray()
    prev: bytes | None = None
    acc = nbits = pos = 0
    while True:
        while nbits < code_width:
            if pos >= len(data):
                return bytes(out)  # tolerate missing END (truncated stream)
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << code_width) - 1)
        acc >>= code_width
        nbits -= code_width
        if code == clear:
            table = []
            code_width = min_code_size + 1
            next_code = end + 1
            prev = None
            continue
        if code == end:
            return bytes(out)
        if code < clear:
            entry = bytes([code])
        elif code - end - 1 < len(table):
            entry = table[code - end - 1]
        elif code == next_code and prev is not None:
            entry = prev + prev[:1]  # KwKwK: code defined by this very step
        else:
            raise ValueError(f"corrupt LZW stream: code {code} before definition")
        out += entry
        if prev is not None and next_code < 4096:
            table.append(prev + entry[:1])
            next_code += 1
            if next_code == (1 << code_width) and code_width < 12:
                code_width += 1
        prev = entry


def _gif_subblocks(data: bytes) -> bytes:
    out = bytearray()
    for i in range(0, len(data), 255):
        chunk = data[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out.append(0)
    return bytes(out)


def _gif_interlace_rows(height: int) -> list[int]:
    """GIF89a Appendix E interlace order: rows in four passes starting at
    0/4/2/1 with strides 8/8/4/2."""
    order: list[int] = []
    for start, step in ((0, 8), (4, 8), (2, 4), (1, 2)):
        order.extend(range(start, height, step))
    return order


def encode_gif_gray8(
    width: int, height: int, values, interlaced: bool = False
) -> bytes:
    """Minimal REAL GIF89a encoder: 256-entry grayscale global color table
    (palette[i] = (i,i,i), so pixel index == gray value), one image block,
    real LZW-compressed data in ≤255-byte sub-blocks. interlaced=True
    stores rows in the four-pass Appendix-E order with the interlace flag
    set (what the decoder must undo)."""
    import struct

    assert len(values) == width * height
    palette = bytes(v for i in range(256) for v in (i, i, i))
    vals = [int(v) & 0xFF for v in values]
    if interlaced:
        rows = _gif_interlace_rows(height)
        vals = [vals[y * width + x] for y in rows for x in range(width)]
    pixels = bytes(vals)
    return (
        b"GIF89a"
        + struct.pack("<HH", width, height)
        + bytes([0xF7, 0, 0])  # GCT present, 8-bit color res, 256 entries
        + palette
        + b"\x2c"
        + struct.pack("<HHHH", 0, 0, width, height)
        + bytes([0x40 if interlaced else 0x00])  # no LCT; interlace flag
        + bytes([8])  # LZW min code size
        + _gif_subblocks(_lzw_encode_gif(pixels, 8))
        + b"\x3b"
    )


def _gif_walk_frames(b: bytes):
    """Yield (left, top, w, h, gray_pixels) for every image block — the
    real multi-frame structure of an animated GIF (each frame is its own
    descriptor + LZW stream; graphic-control extensions are skipped)."""
    import struct

    if b[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    packed = b[10]
    i = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = b[i : i + 3 * n]
        i += 3 * n
    found = False
    while i < len(b):
        block = b[i]
        if block == 0x21:  # extension: label + sub-blocks
            i += 2
            while i < len(b) and b[i]:
                i += 1 + b[i]
            i += 1
        elif block == 0x2C:  # image descriptor
            left, top, fw, fh, ipacked = struct.unpack("<HHHHB", b[i + 1 : i + 10])
            i += 10
            ct = gct
            if ipacked & 0x80:
                n = 2 << (ipacked & 0x07)
                ct = b[i : i + 3 * n]
                i += 3 * n
            if ct is None:
                raise ValueError("GIF image has no color table")
            min_code_size = b[i]
            i += 1
            data = bytearray()
            while i < len(b) and b[i]:
                data += b[i + 1 : i + 1 + b[i]]
                i += 1 + b[i]
            i += 1  # block terminator
            indices = _lzw_decode_gif(bytes(data), min_code_size)
            px = [ct[3 * ix] for ix in indices]
            if ipacked & 0x40:  # deinterlace: undo the 4-pass row order
                if len(px) != fw * fh:
                    raise ValueError("interlaced GIF pixel count mismatch")
                out = [0] * (fw * fh)
                for stored, y in enumerate(_gif_interlace_rows(fh)):
                    out[y * fw : (y + 1) * fw] = px[stored * fw : (stored + 1) * fw]
                px = out
            found = True
            yield left, top, fw, fh, px
        elif block == 0x3B:
            break
        else:
            raise ValueError(f"unexpected GIF block 0x{block:02x}")
    if not found:
        raise ValueError("GIF image block not found")


@_codec_guard
def decode_gif_gray(b: bytes) -> list[int]:
    """REAL GIF pixel decode (first frame): header + color-table walk,
    extension skip, sub-block reassembly, full LZW expansion; returns the
    gray value of each pixel (palette red channel — exact for grayscale
    palettes). Interlaced images deinterlace via the Appendix-E 4-pass
    row order."""
    return next(iter(_gif_walk_frames(b)))[4]


@_codec_guard
def gif_frame_rects(b: bytes) -> list[tuple]:
    """All (left, top, w, h, gray_pixels) frame rects of a GIF, with the
    generator fully consumed under the codec guard — the safe form for
    callers that need per-frame dimensions (the raw generator can raise
    non-ValueError classes mid-iteration on hostile bytes)."""
    return list(_gif_walk_frames(b))


def encode_gif_anim(width: int, height: int, frames) -> bytes:
    """REAL animated-GIF encoder: one global 256-gray color table, one
    full-size image block per frame (each its own LZW stream), NETSCAPE
    loop extension for authenticity."""
    import struct

    palette = bytes(v for i in range(256) for v in (i, i, i))
    out = bytearray(
        b"GIF89a" + struct.pack("<HH", width, height) + bytes([0xF7, 0, 0]) + palette
    )
    out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01\x00\x00\x00"  # loop forever
    for vals in frames:
        assert len(vals) == width * height
        out += b"\x2c" + struct.pack("<HHHH", 0, 0, width, height) + b"\x00"
        out += bytes([8])
        out += _gif_subblocks(
            _lzw_encode_gif(bytes(int(v) & 0xFF for v in vals), 8)
        )
    out += b"\x3b"
    return bytes(out)


FRAME_PNG_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("frame_png", T.BinaryType(), True),
    ]
)


def sample_gif_frames(df: DataFrame, every_n: int = 1) -> DataFrame:
    """(doc_id, payload) → one row per sampled frame of an animated GIF,
    each re-encoded as a standalone grayscale PNG — REAL video-style
    keyframe sampling (1→many mapInPandas explode) over a real
    multi-frame container. Non-GIF payloads contribute no rows."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"doc_id": [], "frame_idx": [], "frame_png": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None:
                    continue
                b = bytes(payload)
                if _parse_header(b)[0] != "gif":
                    continue
                # materialize the frame walk under the codec guard: a
                # corrupt GIF contributes no rows instead of aborting
                try:
                    frames = gif_frame_rects(b)
                except (ValueError, NotImplementedError):
                    continue
                for k, (_, _, fw, fh, px) in enumerate(frames):
                    if k % every_n:
                        continue
                    rows["doc_id"].append(doc_id)
                    rows["frame_idx"].append(k)
                    rows["frame_png"].append(encode_png_gray8(fw, fh, px))
            yield pd.DataFrame(rows)

    return df.mapInPandas(run, schema=FRAME_PNG_SCHEMA)


# --- JPEG: REAL baseline codec (grayscale), stdlib + numpy ----------------
# Full ITU T.81 baseline path for 8-bit grayscale: DQT/SOF0/DHT/SOS segment
# walk, canonical Huffman tables read from the file, MSB-first bit reader
# with 0xFF00 unstuffing, DC-difference + AC run-length entropy decode,
# dequantize, dezigzag, float IDCT (orthonormal DCT-II matrix), level
# shift, clamp. The encoder writes the same structures (its own canonical
# tables — decoders read tables from DHT, so Annex-K parity isn't needed).
# JPEG is lossy in general, but an image whose 8×8 blocks are constant has
# only a DC coefficient, which survives quantization at q=1 EXACTLY — the
# oracle fixtures use that to make decoded values closed-form-checkable.

_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]
# our canonical tables: all 12 DC categories at 4 bits; all 162 AC symbols
# at 8 bits (162 < 255, so the all-ones code is never assigned)
_DC_BITS = [0, 0, 0, 12] + [0] * 12
_DC_VALS = list(range(12))
_AC_VALS = [0x00, 0xF0] + [
    (run << 4) | size for run in range(16) for size in range(1, 11)
]
_AC_BITS = [0] * 7 + [len(_AC_VALS)] + [0] * 8


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """JPEG canonical Huffman: symbol -> (code, length)."""
    out, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _dct_matrix() -> "object":
    import numpy as np

    n = 8
    c = np.zeros((n, n))
    for k in range(n):
        for i in range(n):
            c[k, i] = np.sqrt((1 if k else 0.5) * 2 / n) * np.cos(
                (2 * i + 1) * k * np.pi / (2 * n)
            )
    return c


class _JpegBitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)  # byte stuffing
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def finish(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # 1-pad to byte boundary
        return bytes(self.out)

    def restart(self, n: int) -> None:
        """Emit an RSTn marker at a restart boundary (JPEG §B.2.1.2):
        1-pad to the byte boundary, then the raw unstuffed marker."""
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)
        self.out += bytes([0xFF, 0xD0 + (n & 7)])


def _magnitude(v: int) -> tuple[int, int]:
    """(category, appended bits) for a DC diff / AC coefficient."""
    if v == 0:
        return 0, 0
    t = abs(v).bit_length()
    return t, (v if v > 0 else v + (1 << t) - 1)


def encode_jpeg_gray8(
    width: int, height: int, values, quant: int = 1, restart_interval: int = 0
) -> bytes:
    """Minimal REAL baseline-JPEG encoder: 8-bit grayscale, flat quant
    table (default q=1: constant 8×8 blocks round-trip exactly), canonical
    Huffman tables written to DHT, real DCT + entropy coding. With
    restart_interval > 0 a DRI segment is written and an RSTn marker is
    emitted every N MCUs (byte-aligned, DC predictors reset)."""
    import struct

    import numpy as np

    assert len(values) == width * height
    img = np.asarray([int(v) & 0xFF for v in values], dtype=np.float64).reshape(
        height, width
    )
    bh, bw = (height + 7) // 8, (width + 7) // 8
    padded = np.pad(img, ((0, bh * 8 - height), (0, bw * 8 - width)), mode="edge")
    C = _dct_matrix()
    qtab = np.full(64, quant, dtype=np.int64)
    dc_codes = _canonical_codes(_DC_BITS, _DC_VALS)
    ac_codes = _canonical_codes(_AC_BITS, _AC_VALS)

    bwr = _JpegBitWriter()
    prev_dc = 0
    mcu_n = rst_n = 0
    for by in range(bh):
        for bx in range(bw):
            if restart_interval and mcu_n and mcu_n % restart_interval == 0:
                bwr.restart(rst_n)
                rst_n = (rst_n + 1) & 7
                prev_dc = 0
            mcu_n += 1
            prev_dc = _encode_block(
                bwr, padded[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8],
                qtab, prev_dc, dc_codes, ac_codes, C,
            )

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    dri = seg(0xDD, struct.pack(">H", restart_interval)) if restart_interval else b""
    dqt = seg(0xDB, bytes([0]) + bytes(int(q) for q in qtab))
    sof = seg(
        0xC0, struct.pack(">BHHB", 8, height, width, 1) + bytes([1, 0x11, 0])
    )
    dht = seg(0xC4, bytes([0x00]) + bytes(_DC_BITS) + bytes(_DC_VALS)) + seg(
        0xC4, bytes([0x10]) + bytes(_AC_BITS) + bytes(_AC_VALS)
    )
    sos = seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    return (
        b"\xff\xd8" + dqt + sof + dht + dri + sos + bwr.finish() + b"\xff\xd9"
    )


def _encode_block(bwr, block, qtab, prev_dc, dc_codes, ac_codes, C):
    """DCT + quantize + entropy-code one 8×8 float block; returns new DC."""
    import numpy as np

    coef = C @ (block - 128.0) @ C.T
    zz = [int(round(coef.flat[_ZIGZAG[i]] / qtab[i])) for i in range(64)]
    t, extra = _magnitude(zz[0] - prev_dc)
    code, ln = dc_codes[t]
    bwr.write(code, ln)
    if t:
        bwr.write(extra, t)
    run = 0
    for i in range(1, 64):
        if zz[i] == 0:
            run += 1
            continue
        while run > 15:
            c0, l0 = ac_codes[0xF0]
            bwr.write(c0, l0)
            run -= 16
        t, extra = _magnitude(zz[i])
        c0, l0 = ac_codes[(run << 4) | t]
        bwr.write(c0, l0)
        bwr.write(extra, t)
        run = 0
    if run:
        c0, l0 = ac_codes[0x00]
        bwr.write(c0, l0)
    return zz[0]


def encode_jpeg_ycbcr(
    width: int, height: int, y, cb, cr, subsample: str = "420", quant: int = 1,
    restart_interval: int = 0,
) -> bytes:
    """REAL color baseline-JPEG encoder: three YCbCr components with
    interleaved MCUs — 4:4:4 (chroma at full resolution, MCU = 8×8) or
    4:2:0 (chroma planes at ceil(w/2)×ceil(h/2), MCU = 16×16 with four Y
    blocks). Per-component DC predictors, shared flat quant table and
    canonical Huffman tables (read back from DHT by any decoder)."""
    import struct

    import numpy as np

    if subsample == "444":
        samps = [(1, 1), (1, 1), (1, 1)]
        cw, ch = width, height
    elif subsample == "420":
        samps = [(2, 2), (1, 1), (1, 1)]
        cw, ch = (width + 1) // 2, (height + 1) // 2
    else:
        raise ValueError(f"unknown subsample mode {subsample!r}")
    assert len(y) == width * height
    assert len(cb) == cw * ch and len(cr) == cw * ch
    hmax = max(h for h, _ in samps)
    vmax = max(v for _, v in samps)
    mcux = (width + 8 * hmax - 1) // (8 * hmax)
    mcuy = (height + 8 * vmax - 1) // (8 * vmax)

    dims = [(width, height), (cw, ch), (cw, ch)]
    planes = []
    for (pw, ph), (hs, vs), vals in zip(dims, samps, (y, cb, cr)):
        img = np.asarray([int(v) & 0xFF for v in vals], dtype=np.float64).reshape(ph, pw)
        planes.append(
            np.pad(img, ((0, mcuy * vs * 8 - ph), (0, mcux * hs * 8 - pw)), mode="edge")
        )

    C = _dct_matrix()
    qtab = np.full(64, quant, dtype=np.int64)
    dc_codes = _canonical_codes(_DC_BITS, _DC_VALS)
    ac_codes = _canonical_codes(_AC_BITS, _AC_VALS)
    bwr = _JpegBitWriter()
    prev_dc = [0, 0, 0]
    mcu_n = rst_n = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_n and mcu_n % restart_interval == 0:
                bwr.restart(rst_n)
                rst_n = (rst_n + 1) & 7
                prev_dc = [0, 0, 0]
            mcu_n += 1
            for ci, ((hs, vs), pl) in enumerate(zip(samps, planes)):
                for v in range(vs):
                    for h in range(hs):
                        y0 = (my * vs + v) * 8
                        x0 = (mx * hs + h) * 8
                        prev_dc[ci] = _encode_block(
                            bwr, pl[y0 : y0 + 8, x0 : x0 + 8], qtab,
                            prev_dc[ci], dc_codes, ac_codes, C,
                        )

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    sof_body = struct.pack(">BHHB", 8, height, width, 3) + b"".join(
        bytes([k + 1, (hs << 4) | vs, 0]) for k, (hs, vs) in enumerate(samps)
    )
    sos_body = bytes([3]) + b"".join(bytes([k + 1, 0x00]) for k in range(3)) + bytes(
        [0, 63, 0]
    )
    return (
        b"\xff\xd8"
        + seg(0xDB, bytes([0]) + bytes(int(q) for q in qtab))
        + seg(0xC0, sof_body)
        + seg(0xC4, bytes([0x00]) + bytes(_DC_BITS) + bytes(_DC_VALS))
        + seg(0xC4, bytes([0x10]) + bytes(_AC_BITS) + bytes(_AC_VALS))
        + (seg(0xDD, struct.pack(">H", restart_interval)) if restart_interval else b"")
        + seg(0xDA, sos_body)
        + bwr.finish()
        + b"\xff\xd9"
    )


class _JpegBitReader:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def read(self, n: int) -> int:
        while self.nbits < n:
            if self.pos >= len(self.data):
                raise ValueError("JPEG entropy stream truncated")
            byte = self.data[self.pos]
            self.pos += 1
            if byte == 0xFF:
                nxt = self.data[self.pos] if self.pos < len(self.data) else 0xD9
                if nxt == 0x00:
                    self.pos += 1  # stuffed 0xFF data byte
                else:
                    raise ValueError("unexpected marker inside entropy data")
            self.acc = (self.acc << 8) | byte
            self.nbits += 8
        out = (self.acc >> (self.nbits - n)) & ((1 << n) - 1)
        self.nbits -= n
        self.acc &= (1 << self.nbits) - 1
        return out

    def sync_restart(self) -> None:
        """Byte-align at a restart boundary and consume the expected RSTn
        marker (JPEG §B.2.1.2): discard pad bits, step over 0xFFD0-0xFFD7.
        The caller resets the DC predictors."""
        self.acc = 0
        self.nbits = 0
        if (
            self.pos + 1 < len(self.data)
            and self.data[self.pos] == 0xFF
            and 0xD0 <= self.data[self.pos + 1] <= 0xD7
        ):
            self.pos += 2
        else:
            raise ValueError("expected JPEG restart marker")


def _huff_decode(br: "_JpegBitReader", table: dict[tuple[int, int], int]) -> int:
    code, length = 0, 0
    while length <= 16:
        code = (code << 1) | br.read(1)
        length += 1
        if (code, length) in table:
            return table[(code, length)]
    raise ValueError("invalid Huffman code in JPEG stream")


def _extend(v: int, t: int) -> int:
    return v if t == 0 or v >= (1 << (t - 1)) else v - (1 << t) + 1


def _decode_block(br, dc_table, ac_table, prev_dc: int):
    import numpy as np

    zz = np.zeros(64)
    t = _huff_decode(br, dc_table)
    diff = _extend(br.read(t), t) if t else 0
    prev_dc += diff
    zz[0] = prev_dc
    k = 1
    while k < 64:
        sym = _huff_decode(br, ac_table)
        if sym == 0x00:  # EOB
            break
        if sym == 0xF0:  # ZRL
            k += 16
            continue
        run, size = sym >> 4, sym & 0x0F
        k += run
        if k > 63:
            raise ValueError("AC coefficient index overflow")
        zz[k] = _extend(br.read(size), size)
        k += 1
    return zz, prev_dc


@_codec_guard
def _decode_jpeg_planes(b: bytes):
    """General baseline decoder: full segment walk, interleaved MCU scan
    with per-component sampling factors (4:4:4, 4:2:0, 4:2:2, ...),
    per-component DC predictors and quant/Huffman selectors. Returns
    (width, height, [plane arrays], [(h_samp, v_samp)]) — each plane at
    its own subsampled resolution. Progressive raises NotImplementedError."""
    import struct

    import numpy as np

    if b[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    i = 2
    qtabs: dict[int, list[int]] = {}
    htabs: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    width = height = None
    comps: list[tuple[int, int, int, int]] = []  # (id, h, v, tq)
    scan: list[tuple[int, int, int]] = []  # (comp_idx, dc_t, ac_t)
    restart_interval = 0
    data = None
    while i + 4 <= len(b):
        if b[i] != 0xFF:
            raise ValueError("bad JPEG segment alignment")
        marker = b[i + 1]
        if marker == 0xD9:
            break
        (ln,) = struct.unpack(">H", b[i + 2 : i + 4])
        body = b[i + 4 : i + 2 + ln]
        if marker == 0xDB:
            j = 0
            while j < len(body):
                pq, tq = body[j] >> 4, body[j] & 0x0F
                if pq == 0:  # 8-bit entries
                    qtabs[tq] = list(body[j + 1 : j + 65])
                    j += 65
                elif pq == 1:  # 16-bit big-endian entries (ITU T.81 B.2.4.1)
                    ent = body[j + 1 : j + 129]
                    if len(ent) < 128:
                        raise ValueError("truncated 16-bit quant table")
                    qtabs[tq] = [
                        (ent[2 * k] << 8) | ent[2 * k + 1] for k in range(64)
                    ]
                    j += 129
                else:
                    raise ValueError(f"bad DQT precision {pq}")
        elif marker in (0xC1, 0xC2):
            raise NotImplementedError("only baseline sequential JPEG supported")
        elif marker == 0xC0:
            _prec, height, width, ncomp = struct.unpack(">BHHB", body[:6])
            comps = [
                (body[6 + 3 * k], body[7 + 3 * k] >> 4, body[7 + 3 * k] & 0x0F,
                 body[8 + 3 * k])
                for k in range(ncomp)
            ]
        elif marker == 0xDD:
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif marker == 0xC4:
            j = 0
            while j < len(body):
                tc, th = body[j] >> 4, body[j] & 0x0F
                bits = list(body[j + 1 : j + 17])
                nvals = sum(bits)
                vals = list(body[j + 17 : j + 17 + nvals])
                codes = _canonical_codes(bits, vals)
                htabs[(tc, th)] = {(c, l): sym for sym, (c, l) in codes.items()}
                j += 17 + nvals
        elif marker == 0xDA:
            ns = body[0]
            by_id = {cid: k for k, (cid, *_r) in enumerate(comps)}
            scan = [
                (by_id[body[1 + 2 * s]], body[2 + 2 * s] >> 4, body[2 + 2 * s] & 0x0F)
                for s in range(ns)
            ]
            data = b[i + 2 + ln :]
            break
        i += 2 + ln
    if width is None or data is None or not scan:
        raise ValueError("JPEG missing SOF0/SOS")
    if width == 0 or height == 0 or width * height > MAX_DECODE_PIXELS:
        raise ValueError(f"JPEG dimensions {width}x{height} out of range")
    if not comps or any(h < 1 or h > 4 or v < 1 or v > 4 for _, h, v, _ in comps):
        raise ValueError("JPEG sampling factors out of range")

    end = data.rfind(b"\xff\xd9")
    br = _JpegBitReader(data[: end if end >= 0 else len(data)])
    C = _dct_matrix()
    hmax = max(h for _, h, _, _ in comps)
    vmax = max(v for _, _, v, _ in comps)
    mcux = (width + 8 * hmax - 1) // (8 * hmax)
    mcuy = (height + 8 * vmax - 1) // (8 * vmax)
    planes = [
        np.zeros((mcuy * v * 8, mcux * h * 8)) for _, h, v, _ in comps
    ]
    prev_dc = [0] * len(comps)
    mcu_n = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_n and mcu_n % restart_interval == 0:
                br.sync_restart()
                prev_dc = [0] * len(comps)
            mcu_n += 1
            for ci, dc_t, ac_t in scan:
                _, hs, vs, tq = comps[ci]
                q = np.asarray(qtabs[tq], dtype=np.float64)
                for v in range(vs):
                    for h in range(hs):
                        zz, prev_dc[ci] = _decode_block(
                            br, htabs[(0, dc_t)], htabs[(1, ac_t)], prev_dc[ci]
                        )
                        coef = np.zeros(64)
                        coef[_ZIGZAG] = zz * q
                        block = C.T @ coef.reshape(8, 8) @ C + 128.0
                        y0 = (my * vs + v) * 8
                        x0 = (mx * hs + h) * 8
                        planes[ci][y0 : y0 + 8, x0 : x0 + 8] = block
    # crop each plane to its nominal subsampled size
    out = []
    for (_, hs, vs, _), pl in zip(comps, planes):
        cw = (width * hs + hmax - 1) // hmax
        ch = (height * vs + vmax - 1) // vmax
        out.append(np.clip(np.rint(pl[:ch, :cw]), 0, 255).astype(np.int64))
    return width, height, out, [(h, v) for _, h, v, _ in comps]


def decode_jpeg_gray8(b: bytes) -> list[int]:
    """REAL baseline-JPEG decode: grayscale pixels for 1-component files;
    for color (3-component YCbCr) files, see decode_jpeg_ycbcr."""
    _w, _h, planes, _samp = _decode_jpeg_planes(b)
    if len(planes) != 1:
        raise NotImplementedError(
            "multi-component JPEG: use decode_jpeg_ycbcr for color files"
        )
    return [int(v) for v in planes[0].reshape(-1)]


def decode_jpeg_ycbcr(b: bytes):
    """Color baseline-JPEG decode: (width, height, y, cb, cr) with each
    chroma plane at its own subsampled resolution (4:4:4 → full size,
    4:2:0 → half each axis). Values are the real decoded YCbCr planes;
    use ycbcr_to_rgb for display-space pixels."""
    w, h, planes, samp = _decode_jpeg_planes(b)
    if len(planes) != 3:
        raise ValueError(f"expected 3 components, found {len(planes)}")
    y, cb, cr = ([int(v) for v in p.reshape(-1)] for p in planes)
    return w, h, y, cb, cr


def ycbcr_to_rgb(y: int, cb: int, cr: int) -> tuple[int, int, int]:
    """JFIF/ITU-R BT.601 full-range conversion, deterministic rounding."""
    r = y + 1.402 * (cr - 128)
    g = y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128)
    b = y + 1.772 * (cb - 128)
    clamp = lambda v: max(0, min(255, int(round(v))))  # noqa: E731
    return clamp(r), clamp(g), clamp(b)


def decode_values(b: bytes) -> tuple[str, list[int] | None]:
    """(format, decoded values) — REAL decode for png (pixels), gif (LZW
    pixels), jpeg (baseline grayscale: Huffman + IDCT), wav (PCM samples);
    unknown formats → None. Every container format the sniffer knows now
    has a real pixel/sample path — no codec stubs remain."""
    fmt = _parse_header(bytes(b))[0]
    if fmt == "png":
        return "png", decode_png_gray8(bytes(b))
    if fmt == "gif":
        return "gif", decode_gif_gray(bytes(b))
    if fmt == "jpeg":
        # 1-component → gray pixels; color (3-component) → the decoded
        # luma plane (the Y channel IS the grayscale image)
        _w, _h, planes, _s = _decode_jpeg_planes(bytes(b))
        return "jpeg", [int(v) for v in planes[0].reshape(-1)]
    if fmt == "wav":
        return "wav", decode_wav_pcm16(bytes(b))
    return "unknown", None


@_codec_guard
def decode_gray_image(b: bytes) -> tuple[str, int | None, int | None, list[int] | None]:
    """(format, width, height, gray pixels) with the dimensions OF THE
    DECODED PIXEL BUFFER — for GIF that is the FIRST FRAME's own rect
    (fw, fh), which may be smaller than the logical screen in the header,
    so callers that reshape (resize) never see a w*h/len mismatch.
    Non-image formats → (fmt, None, None, None)."""
    fmt = _parse_header(bytes(b))[0]
    if fmt == "png":
        _f, w, h = _parse_header(bytes(b))[:3]
        return "png", w, h, decode_png_gray8(bytes(b))
    if fmt == "gif":
        _left, _top, fw, fh, px = next(iter(_gif_walk_frames(bytes(b))))
        return "gif", fw, fh, px
    if fmt == "jpeg":
        w, h, planes, _s = _decode_jpeg_planes(bytes(b))
        pl = planes[0]
        return "jpeg", pl.shape[1], pl.shape[0], [int(v) for v in pl.reshape(-1)]
    return fmt, None, None, None


DECODE_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("media_format", T.StringType(), True),
        T.StructField("n_values", T.LongType(), True),
        T.StructField("val_sum", T.LongType(), True),
        T.StructField("val_mean", T.DoubleType(), True),
    ]
)


def decode_stats(df: DataFrame) -> DataFrame:
    """(doc_id, payload) → per-payload decoded-value statistics, one Arrow
    batch at a time — the feature-extraction shape a training-data pipeline
    runs over image/audio columns (decode stays partition-parallel and never
    leaves the executor)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            fmts, ns, sums, means = [], [], [], []
            for payload in pdf["payload"]:
                if payload is None:
                    fmts.append(None), ns.append(None), sums.append(None), means.append(None)
                    continue
                # per-row guard: corrupt payloads degrade to null stats
                # (sniffed format kept), never abort the job
                try:
                    fmt, vals = decode_values(bytes(payload))
                except (ValueError, NotImplementedError):
                    fmt, vals = _parse_header(bytes(payload))[0], None
                fmts.append(fmt)
                if vals is None:
                    ns.append(None), sums.append(None), means.append(None)
                else:
                    s = int(sum(vals))
                    ns.append(len(vals)), sums.append(s)
                    means.append(round(s / len(vals), 6) if vals else None)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_format": fmts,
                    "n_values": pd.array(ns, dtype="Int64"),
                    "val_sum": pd.array(sums, dtype="Int64"),
                    "val_mean": pd.array(means, dtype="Float64"),
                }
            )

    return df.mapInPandas(run, schema=DECODE_STATS_SCHEMA)


AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("n_samples", T.LongType(), True),
        T.StructField("rms", T.DoubleType(), True),
        T.StructField("zcr", T.DoubleType(), True),
        T.StructField("spectral_centroid_hz", T.DoubleType(), True),
    ]
)


def audio_features(df: DataFrame) -> DataFrame:
    """(doc_id, payload) → REAL audio features over WAV payloads, one
    Arrow batch at a time: RMS energy, zero-crossing rate, and spectral
    centroid (numpy rfft) — the signal-quality trio a training-data
    pipeline filters speech/audio corpora on. Non-WAV payloads → nulls.
    Decode + FFT stay partition-parallel inside the executor."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            srs, ns, rmss, zcrs, cents = [], [], [], [], []
            for payload in pdf["payload"]:
                if payload is None or _parse_header(bytes(payload))[0] != "wav":
                    srs.append(None), ns.append(None), rmss.append(None)
                    zcrs.append(None), cents.append(None)
                    continue
                b = bytes(payload)
                sr = _parse_header(b)[3]
                try:
                    x = np.asarray(decode_wav_pcm16(b), dtype=np.float64)
                except (ValueError, NotImplementedError):
                    # corrupt WAV body → null feature row, job survives
                    srs.append(sr), ns.append(None), rmss.append(None)
                    zcrs.append(None), cents.append(None)
                    continue
                srs.append(sr), ns.append(len(x))
                if len(x) == 0:
                    rmss.append(0.0), zcrs.append(0.0), cents.append(None)
                    continue
                rmss.append(float(np.sqrt(np.mean(x * x))))
                zcrs.append(
                    float(np.mean(np.signbit(x[1:]) != np.signbit(x[:-1])))
                    if len(x) > 1
                    else 0.0
                )
                mag = np.abs(np.fft.rfft(x))
                total = mag.sum()
                if total > 0 and sr:
                    freqs = np.fft.rfftfreq(len(x), d=1.0 / sr)
                    cents.append(float((freqs * mag).sum() / total))
                else:
                    cents.append(None)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "sample_rate": pd.array(srs, dtype="Int32"),
                    "n_samples": pd.array(ns, dtype="Int64"),
                    "rms": pd.array(rmss, dtype="Float64"),
                    "zcr": pd.array(zcrs, dtype="Float64"),
                    "spectral_centroid_hz": pd.array(cents, dtype="Float64"),
                }
            )

    return df.mapInPandas(run, schema=AUDIO_FEATURES_SCHEMA)


RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("media_format", T.StringType(), True),
        T.StructField("out_width", T.IntegerType(), True),
        T.StructField("out_height", T.IntegerType(), True),
        T.StructField("resized_png", T.BinaryType(), True),
    ]
)


def resize_gray(values, w: int, h: int, out_w: int, out_h: int,
                method: str = "bilinear") -> list[int]:
    """REAL image resize on decoded gray pixels (numpy, no PIL).

    bilinear: align-corners=False convention (pixel centers at i+0.5,
    edge-clamped), the standard used by PIL/OpenCV/torch defaults;
    nearest: floor of the same center mapping. Deterministic."""
    import numpy as np

    img = np.asarray(values, dtype=np.float64).reshape(h, w)
    if method == "nearest":
        xs = np.minimum(((np.arange(out_w) + 0.5) * w / out_w).astype(np.int64), w - 1)
        ys = np.minimum(((np.arange(out_h) + 0.5) * h / out_h).astype(np.int64), h - 1)
        out = img[np.ix_(ys, xs)]
    elif method == "bilinear":
        fx = (np.arange(out_w) + 0.5) * w / out_w - 0.5
        fy = (np.arange(out_h) + 0.5) * h / out_h - 0.5
        x0 = np.clip(np.floor(fx).astype(np.int64), 0, w - 1)
        y0 = np.clip(np.floor(fy).astype(np.int64), 0, h - 1)
        x1 = np.minimum(x0 + 1, w - 1)
        y1 = np.minimum(y0 + 1, h - 1)
        wx = np.clip(fx - x0, 0.0, 1.0)
        wy = np.clip(fy - y0, 0.0, 1.0)
        top = img[np.ix_(y0, x0)] * (1 - wx) + img[np.ix_(y0, x1)] * wx
        bot = img[np.ix_(y1, x0)] * (1 - wx) + img[np.ix_(y1, x1)] * wx
        out = top * (1 - wy[:, None]) + bot * wy[:, None]
    else:
        raise ValueError(f"unknown resize method {method!r}")
    return [int(v) for v in np.clip(np.rint(out), 0, 255).astype(np.int64).reshape(-1)]


def resize_images(df: DataFrame, out_w: int, out_h: int,
                  method: str = "bilinear") -> DataFrame:
    """(doc_id, payload) → resized grayscale PNG, one Arrow batch at a
    time — the image-normalization shape of a training-data pipeline
    (decode any sniffed format → resample → re-encode), fully real:
    the decoders, the resampler, and the PNG re-encode are all
    implemented here. Audio/unknown payloads → null output columns."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            fmts, ows, ohs, outs = [], [], [], []
            for payload in pdf["payload"]:
                if payload is None:
                    fmts.append(None), ows.append(None), ohs.append(None), outs.append(None)
                    continue
                # per-row guard: one corrupt payload must not abort the
                # whole job — it degrades to a null row like non-images do
                try:
                    fmt, w0, h0, vals = decode_gray_image(bytes(payload))
                except (ValueError, NotImplementedError):
                    try:
                        bad_fmt = _parse_header(bytes(payload))[0]
                    except Exception:
                        bad_fmt = None
                    fmts.append(bad_fmt), ows.append(None), ohs.append(None), outs.append(None)
                    continue
                fmts.append(fmt)
                if vals is None or not w0 or not h0:
                    ows.append(None), ohs.append(None), outs.append(None)
                    continue
                resized = resize_gray(vals, w0, h0, out_w, out_h, method)
                ows.append(out_w), ohs.append(out_h)
                outs.append(encode_png_gray8(out_w, out_h, resized))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_format": fmts,
                    "out_width": pd.array(ows, dtype="Int32"),
                    "out_height": pd.array(ohs, dtype="Int32"),
                    "resized_png": outs,
                }
            )

    return df.mapInPandas(run, schema=RESIZE_SCHEMA)
