"""Multimodal column handling: image/audio/video as opaque binary + typed
metadata structs.

The decode/resize/feature steps are the standard mapInPandas shape (Arrow
batches of binary → numpy → binary). UNCOMPRESSED formats decode for REAL
with no external libraries: ``PpmCodec`` (binary PPM/P6), ``BmpCodec``
(24-bit BMP), ``WavPcmCodec`` (16-bit PCM WAV via stdlib ``wave``), with
``AutoCodec`` dispatching on magic bytes; ``PngCodec`` decodes REAL PNG
(stdlib zlib + the filter algebra), ``GifCodec`` REAL GIF (LZW implemented
directly), and ``functions.jpeg.JpegCodec`` REAL baseline JPEG (DCT +
Huffman in numpy), and ``functions.webp.WebpLosslessCodec`` REAL WebP
lossless (VP8L: canonical Huffman, LZ77 + color cache, all four inverse
transforms). ``AviMjpegCodec`` demuxes a REAL video container —
MJPEG-in-AVI: a RIFF tree walk over hdrl/movi/idx1 with each 00dc frame
chunk decoded by the JPEG codec (and an encoder that writes
standards-correct AVI any mainstream player opens).
``functions.adpcm.ImaAdpcmCodec`` is a REAL lossy audio codec —
IMA/DVI ADPCM in WAV (wFormatTag 0x11), 4:1 vs 16-bit PCM. The
remaining compressed formats (lossy WebP/VP8, mp3/aac psychoacoustic
codecs, interframe video codecs) are the environment gap: ``DeterministicFakeCodec`` produces stable
pseudo-decodes so the pipeline shape stays verifiable, and ``RealCodec``
raises NotImplementedError at the exact seam where
Pillow/librosa/ffmpeg would plug in.

Scale notes: binary payloads ride in the same parquet row group as their
metadata; mapInPandas keeps the decode on executors with Arrow transfer;
``spark.sql.files.maxPartitionBytes`` should be lowered (e.g. 32 MB) for
tables whose rows are megapixel images so a partition stays in memory.
"""

from __future__ import annotations

import math

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

IMAGE_META_SCHEMA = T.StructType(
    [
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("format", T.StringType()),
    ]
)

IMAGE_TABLE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("content", T.BinaryType()),
        T.StructField("meta", IMAGE_META_SCHEMA),
    ]
)


class DeterministicFakeCodec:
    """Stable fake decode: pixels derived from a hash of the payload."""

    def decode(self, payload: bytes) -> np.ndarray:
        h = hashlib.md5(payload or b"").digest()
        w, ht = 4 + h[0] % 4, 4 + h[1] % 4
        rng = np.random.RandomState(int.from_bytes(h[:4], "big"))
        return rng.randint(0, 255, size=(ht, w, 3), dtype=np.uint8)

    def encode(self, pixels: np.ndarray) -> bytes:
        return pixels.tobytes()


class RealCodec:  # pragma: no cover - container has no image libs
    """Seam for the REMAINING compressed formats (JPEG/WebP) —
    Pillow/torchvision are not in this container. PNG and GIF decode for
    real (PngCodec: stdlib zlib + the filter algebra; GifCodec: LZW
    implemented directly), as do the uncompressed formats: PpmCodec /
    BmpCodec / WavPcmCodec / AutoCodec."""

    def decode(self, payload: bytes) -> np.ndarray:
        raise NotImplementedError("plug Pillow/torchvision here (not in container)")

    def encode(self, pixels: np.ndarray) -> bytes:
        raise NotImplementedError


class PpmCodec:
    """REAL binary-PPM (P6, maxval 255) decode/encode — pure numpy, no
    external libs: the uncompressed-image path is fully working, not a
    stub. Header: ``P6 <width> <height> 255`` with whitespace/#-comment
    separators, then height x width x 3 raw RGB bytes."""

    def decode(self, payload: bytes) -> np.ndarray:
        if not payload or not payload.startswith(b"P6"):
            raise ValueError("not a binary PPM (P6) payload")
        fields, pos = [], 2
        while len(fields) < 3:
            while pos < len(payload) and payload[pos : pos + 1].isspace():
                pos += 1
            if payload[pos : pos + 1] == b"#":  # comment to end of line
                while pos < len(payload) and payload[pos] != 0x0A:
                    pos += 1
                continue
            start = pos
            while pos < len(payload) and not payload[pos : pos + 1].isspace():
                pos += 1
            fields.append(int(payload[start:pos]))
        pos += 1  # single whitespace after maxval
        w, h, maxval = fields
        if maxval != 255:
            raise ValueError(f"only maxval 255 supported, got {maxval}")
        px = np.frombuffer(payload, dtype=np.uint8, count=w * h * 3, offset=pos)
        return px.reshape(h, w, 3).copy()

    def encode(self, pixels: np.ndarray) -> bytes:
        h, w = pixels.shape[:2]
        return b"P6\n%d %d\n255\n" % (w, h) + pixels.astype(np.uint8).tobytes()


class BmpCodec:
    """REAL 24-bit uncompressed BMP decode/encode — pure numpy. Bottom-up
    BGR rows padded to 4 bytes, BITMAPINFOHEADER only (the layout every
    'save as BMP' dialog produces)."""

    def decode(self, payload: bytes) -> np.ndarray:
        if not payload or not payload.startswith(b"BM"):
            raise ValueError("not a BMP payload")
        off = int.from_bytes(payload[10:14], "little")
        w = int.from_bytes(payload[18:22], "little", signed=True)
        h = int.from_bytes(payload[22:26], "little", signed=True)
        bpp = int.from_bytes(payload[28:30], "little")
        comp = int.from_bytes(payload[30:34], "little")
        if bpp != 24 or comp != 0:
            raise ValueError(f"only uncompressed 24bpp supported (bpp={bpp})")
        stride = (w * 3 + 3) & ~3
        rows = np.frombuffer(
            payload, dtype=np.uint8, count=stride * abs(h), offset=off
        ).reshape(abs(h), stride)[:, : w * 3].reshape(abs(h), w, 3)
        if h > 0:  # bottom-up
            rows = rows[::-1]
        return rows[:, :, ::-1].copy()  # BGR -> RGB

    def encode(self, pixels: np.ndarray) -> bytes:
        h, w = pixels.shape[:2]
        stride = (w * 3 + 3) & ~3
        body = np.zeros((h, stride), dtype=np.uint8)
        body[:, : w * 3] = pixels[::-1, :, ::-1].reshape(h, w * 3)  # RGB->BGR, flip
        data = body.tobytes()
        header = (
            b"BM"
            + (54 + len(data)).to_bytes(4, "little")
            + b"\x00\x00\x00\x00"
            + (54).to_bytes(4, "little")
            + (40).to_bytes(4, "little")
            + w.to_bytes(4, "little")
            + h.to_bytes(4, "little")
            + (1).to_bytes(2, "little")
            + (24).to_bytes(2, "little")
            + (0).to_bytes(4, "little")
            + len(data).to_bytes(4, "little")
            + (2835).to_bytes(4, "little") * 2
            + (0).to_bytes(4, "little") * 2
        )
        return header + data


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


class PngCodec:
    """REAL PNG decode/encode with stdlib zlib + numpy — no Pillow. The
    "compressed formats are an env gap" waiver no longer covers PNG: the
    DEFLATE layer is in the standard library, and the rest of the format
    (chunks, scanline filters) is implemented here directly.

    Supported: 8-bit-depth color types 2 (RGB) and 6 (RGBA, returned as
    4 channels), non-interlaced, all five scanline filters (None/Sub/Up/
    Average/Paeth — the Paeth predictor per the PNG spec, RFC 2083).
    Palette/16-bit/interlaced images raise with a clear message. Encoding
    writes filter-0 scanlines, zlib level 6 — bit-exact roundtrip.
    """

    def decode(self, payload: bytes) -> np.ndarray:
        import struct
        import zlib

        if not payload.startswith(_PNG_SIG):
            raise ValueError("not a PNG payload")
        pos = len(_PNG_SIG)
        width = height = None
        channels = None
        idat = bytearray()
        while pos + 8 <= len(payload):
            (length,) = struct.unpack(">I", payload[pos : pos + 4])
            ctype = payload[pos + 4 : pos + 8]
            data = payload[pos + 8 : pos + 8 + length]
            pos += 12 + length  # skip CRC
            if ctype == b"IHDR":
                width, height, depth, color, comp, filt, interlace = (
                    struct.unpack(">IIBBBBB", data)
                )
                if depth != 8:
                    raise ValueError(f"only 8-bit PNG supported, got depth {depth}")
                if color not in (2, 6):
                    raise ValueError(
                        f"only RGB/RGBA PNG supported, got color type {color}"
                    )
                if interlace != 0:
                    raise ValueError("interlaced PNG not supported")
                channels = 3 if color == 2 else 4
            elif ctype == b"IDAT":
                idat += data
            elif ctype == b"IEND":
                break
        if width is None or not idat:
            raise ValueError("PNG missing IHDR/IDAT")
        raw = zlib.decompress(bytes(idat))
        stride = width * channels
        if len(raw) != height * (stride + 1):
            raise ValueError("PNG scanline data length mismatch")
        out = np.empty((height, stride), dtype=np.uint8)
        prev = np.zeros(stride, dtype=np.uint8)
        for y in range(height):
            row_off = y * (stride + 1)
            ftype = raw[row_off]
            line = np.frombuffer(
                raw, dtype=np.uint8, count=stride, offset=row_off + 1
            ).astype(np.int32)
            if ftype == 0:  # None
                cur = line
            elif ftype == 2:  # Up
                cur = (line + prev) & 0xFF
            elif ftype in (1, 3, 4):  # Sub / Average / Paeth need left-scan
                cur = line.copy()
                pv = prev.astype(np.int32)
                for x in range(stride):
                    a = cur[x - channels] if x >= channels else 0
                    if ftype == 1:
                        cur[x] = (cur[x] + a) & 0xFF
                    elif ftype == 3:
                        cur[x] = (cur[x] + ((a + pv[x]) >> 1)) & 0xFF
                    else:  # Paeth
                        b = pv[x]
                        c = pv[x - channels] if x >= channels else 0
                        p = a + b - c
                        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                        pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                        cur[x] = (cur[x] + pred) & 0xFF
            else:
                raise ValueError(f"unknown PNG filter type {ftype}")
            out[y] = cur.astype(np.uint8)
            prev = out[y]
        return out.reshape(height, width, channels).copy()

    def encode(self, pixels: np.ndarray) -> bytes:
        import struct
        import zlib

        px = np.asarray(pixels, dtype=np.uint8)
        h, w = px.shape[:2]
        channels = 1 if px.ndim == 2 else px.shape[2]
        if channels not in (3, 4):
            raise ValueError("encode expects HxWx3 or HxWx4")
        color = 2 if channels == 3 else 6

        def chunk(ctype: bytes, data: bytes) -> bytes:
            return (
                struct.pack(">I", len(data))
                + ctype
                + data
                + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
            )

        ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
        body = px.reshape(h, w * channels)
        raw = b"".join(b"\x00" + body[y].tobytes() for y in range(h))
        return (
            _PNG_SIG
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw, 6))
            + chunk(b"IEND", b"")
        )


class AutoCodec:
    """Magic-byte dispatch: P6 -> PPM, BM -> BMP, PNG signature -> PNG,
    GIF -> GIF, JFIF SOI -> JPEG, RIFF/WEBP -> WebP-lossless (all REAL
    decodes); anything else raises by default, or falls back to the
    deterministic fake when ``fallback=True`` (pipeline-shape testing
    with mixed payloads)."""

    def __init__(self, fallback: bool = False):
        from gohangout_spark.functions.jpeg import JpegCodec
        from gohangout_spark.functions.webp import WebpLosslessCodec

        self._ppm, self._bmp, self._png = PpmCodec(), BmpCodec(), PngCodec()
        self._gif, self._jpeg = GifCodec(), JpegCodec()
        self._webp = WebpLosslessCodec()
        self._fallback = DeterministicFakeCodec() if fallback else None

    def decode(self, payload: bytes) -> np.ndarray:
        if payload[:2] == b"P6":
            return self._ppm.decode(payload)
        if payload[:2] == b"BM":
            return self._bmp.decode(payload)
        if payload[:8] == _PNG_SIG:
            return self._png.decode(payload)
        if payload[:6] in (b"GIF87a", b"GIF89a"):
            return self._gif.decode(payload)
        if payload[:2] == b"\xff\xd8":
            return self._jpeg.decode(payload)
        if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
            return self._webp.decode(payload)[..., :3]  # RGB view for parity
        if self._fallback is not None:
            return self._fallback.decode(payload)
        raise ValueError(f"unrecognized image magic {payload[:2]!r}")

    def encode(self, pixels: np.ndarray) -> bytes:
        return self._ppm.encode(pixels)


def make_ppm_media_table(spark, n: int = 64) -> DataFrame:
    """Deterministic REAL-PPM media table: image i is a solid
    (i*3 % 256, i*7 % 256, i*11 % 256) RGB of size (8 + i%5) x (6 + i%4) —
    per-channel means are analytic, so decode output is ORACLE-checkable
    (the multimodal_ppm_features workload query)."""
    codec = PpmCodec()
    rows = []
    for i in range(n):
        w, h = 8 + i % 5, 6 + i % 4
        px = np.zeros((h, w, 3), dtype=np.uint8)
        px[:, :] = ((i * 3) % 256, (i * 7) % 256, (i * 11) % 256)
        rows.append((i, bytearray(codec.encode(px)), (w, h, 3, "ppm")))
    return spark.createDataFrame(rows, IMAGE_TABLE_SCHEMA)


def dhash_fixture_base(j: int, bx: int, by: int) -> int:
    """Closed-form 4x4-block base value of dHash fixture image ``j`` at
    block (bx, by): ``(A·(bx+1) + B·(by+1)·(bx+2) + C) % 254`` with
    A, B, C = the first three md5 bytes of ``str(j)`` — replayable in SQL
    as ``('0x' || substring(md5(j), ...))::INT`` (the image_dhash_*
    oracles)."""
    dg = hashlib.md5(str(j).encode()).digest()
    return (dg[0] * (bx + 1) + dg[1] * (by + 1) * (bx + 2) + dg[2]) % 254


def make_dhash_media_table(spark, n: int = 48) -> DataFrame:
    """Deterministic REAL-PPM media table for the perceptual-hash gates
    (functions/phash.py): n//2 base images plus n//2 NEAR-DUPLICATE twins.
    Image i < n//2 is a 36x32 gray PPM (r=g=b, so integer luma is the
    value itself) tiled in 4x4 blocks: block (bx, by) holds
    ``dhash_fixture_base(i, bx, by) + 2·(x % 2)`` — a within-block
    checker whose EXACT mean is base+1, so the decode -> luma -> block
    -mean pipeline has closed-form output. Image i >= n//2 twins
    j = i - n//2 with ONE block perturbed (+97 mod 254, block chosen from
    md5 bytes 3/4 of str(j)) — a single changed block affects at most the
    two dHash bits comparing it to its neighbors, so each (j, j + n//2)
    pair has Hamming ≤ 2 and MUST surface as a near-dup, while unrelated
    images differ in ~half their bits."""
    codec = PpmCodec()
    rows = [
        (i, bytearray(codec.encode(dhash_fixture_pixels(i, n // 2))), (36, 32, 3, "ppm"))
        for i in range(n)
    ]
    return spark.createDataFrame(rows, IMAGE_TABLE_SCHEMA)


def dhash_fixture_pixels(i: int, half: int) -> np.ndarray:
    """Pixels of dHash fixture image ``i`` (twin of ``i - half`` when
    ``i >= half``) — shared by :func:`make_dhash_media_table` and the
    scale sweep's distributed 100x encode."""
    j, twin = (i, False) if i < half else (i - half, True)
    dg = hashlib.md5(str(j).encode()).digest()
    pbx, pby = dg[3] % 9, dg[4] % 8
    px = np.zeros((32, 36, 3), dtype=np.uint8)
    for by in range(8):
        for bx in range(9):
            base = dhash_fixture_base(j, bx, by)
            if twin and bx == pbx and by == pby:
                base = (base + 97) % 254
            block = np.full((4, 4), base, dtype=np.int64)
            block[:, 1::2] += 2
            px[by * 4 : by * 4 + 4, bx * 4 : bx * 4 + 4, :] = block[:, :, None]
    return px


class GifCodec:
    """REAL GIF decode/encode in pure Python — LZW implemented directly
    (GIF's variable-width LSB-first LZW, clear/end codes, 12-bit cap per
    the GIF89a spec). Decodes the FIRST frame: global or local color
    table, optional interlacing (four-pass deinterlace); extensions are
    skipped. Encode writes GIF89a with a global palette built from the
    image (raises if the image has more than 256 distinct colors — GIF is
    palettized by definition; quantize upstream) and real LZW compression
    with dictionary resets at 4096 entries.
    """

    # ---- LZW ----

    @staticmethod
    def _lzw_decode(min_code_size: int, data: bytes) -> list[int]:
        clear = 1 << min_code_size
        end = clear + 1
        code_size = min_code_size + 1
        table: list[list[int]] = [[i] for i in range(clear)] + [[], []]
        out: list[int] = []
        prev: list[int] | None = None
        acc = 0
        nbits = 0
        for byte in data:
            acc |= byte << nbits
            nbits += 8
            while nbits >= code_size:
                code = acc & ((1 << code_size) - 1)
                acc >>= code_size
                nbits -= code_size
                if code == clear:
                    table = [[i] for i in range(clear)] + [[], []]
                    code_size = min_code_size + 1
                    prev = None
                    continue
                if code == end:
                    return out
                if prev is None:
                    entry = table[code]
                else:
                    if code < len(table):
                        entry = table[code]
                        table.append(prev + [entry[0]])
                    elif code == len(table):  # the KwKwK case
                        entry = prev + [prev[0]]
                        table.append(entry)
                    else:
                        raise ValueError("corrupt GIF LZW stream")
                    if len(table) == (1 << code_size) and code_size < 12:
                        code_size += 1
                out.extend(entry)
                prev = list(entry)
        return out

    @staticmethod
    def _lzw_encode(min_code_size: int, indices: list[int]) -> bytes:
        clear = 1 << min_code_size
        end = clear + 1
        out_bits: list[tuple[int, int]] = []  # (code, width)
        code_size = min_code_size + 1
        table: dict[tuple[int, ...], int] = {(i,): i for i in range(clear)}
        next_code = end + 1
        out_bits.append((clear, code_size))
        buf: tuple[int, ...] = ()
        for idx in indices:
            cand = buf + (idx,)
            if cand in table:
                buf = cand
                continue
            out_bits.append((table[buf], code_size))
            table[cand] = next_code
            # width growth alignment: the encoder adds entry i+5 while
            # emitting data code i, the decoder adds entry i+4 while
            # READING data code i (it adds nothing on the first) — both
            # reach "table spans 2^cs" after the same step, so growing
            # when next_code hits 2^cs keeps every code's read width equal
            # to its write width
            if next_code == (1 << code_size) and code_size < 12:
                code_size += 1
            next_code += 1
            if next_code == 4096:
                out_bits.append((clear, code_size))
                table = {(i,): i for i in range(clear)}
                code_size = min_code_size + 1
                next_code = end + 1
            buf = (idx,)
        if buf:
            out_bits.append((table[buf], code_size))
        out_bits.append((end, code_size))
        acc = 0
        nbits = 0
        data = bytearray()
        for code, width in out_bits:
            acc |= code << nbits
            nbits += width
            while nbits >= 8:
                data.append(acc & 0xFF)
                acc >>= 8
                nbits -= 8
        if nbits:
            data.append(acc & 0xFF)
        return bytes(data)

    # ---- container ----

    def decode(self, payload: bytes) -> np.ndarray:
        if payload[:6] not in (b"GIF87a", b"GIF89a"):
            raise ValueError("not a GIF payload")
        pos = 6
        packed = payload[pos + 4]
        gct_flag = packed >> 7
        gct_n = 2 << (packed & 0x07)
        pos += 7
        gct = None
        if gct_flag:
            gct = np.frombuffer(
                payload, dtype=np.uint8, count=gct_n * 3, offset=pos
            ).reshape(gct_n, 3)
            pos += gct_n * 3
        while pos < len(payload):
            block = payload[pos]
            pos += 1
            if block == 0x21:  # extension: label + sub-blocks
                pos += 1
                while payload[pos] != 0:
                    pos += 1 + payload[pos]
                pos += 1
            elif block == 0x2C:  # image descriptor
                w = int.from_bytes(payload[pos + 4 : pos + 6], "little")
                h = int.from_bytes(payload[pos + 6 : pos + 8], "little")
                ipacked = payload[pos + 8]
                pos += 9
                palette = gct
                if ipacked >> 7:  # local color table
                    lct_n = 2 << (ipacked & 0x07)
                    palette = np.frombuffer(
                        payload, dtype=np.uint8, count=lct_n * 3, offset=pos
                    ).reshape(lct_n, 3)
                    pos += lct_n * 3
                if palette is None:
                    raise ValueError("GIF frame has no color table")
                min_code = payload[pos]
                pos += 1
                lzw = bytearray()
                while payload[pos] != 0:
                    n = payload[pos]
                    lzw += payload[pos + 1 : pos + 1 + n]
                    pos += 1 + n
                pos += 1
                idx = self._lzw_decode(min_code, bytes(lzw))
                if len(idx) < w * h:
                    raise ValueError("GIF pixel data truncated")
                grid = np.asarray(idx[: w * h], dtype=np.int32).reshape(h, w)
                if (ipacked >> 6) & 1:  # four-pass interlace
                    order = (
                        list(range(0, h, 8)) + list(range(4, h, 8))
                        + list(range(2, h, 4)) + list(range(1, h, 2))
                    )
                    de = np.empty_like(grid)
                    de[order] = grid
                    grid = de
                return palette[grid].astype(np.uint8)
            elif block == 0x3B:
                break
            else:
                raise ValueError(f"unexpected GIF block 0x{block:02x}")
        raise ValueError("GIF contains no image data")

    def encode(self, pixels: np.ndarray) -> bytes:
        px = np.asarray(pixels, dtype=np.uint8)
        if px.ndim != 3 or px.shape[2] != 3:
            raise ValueError(
                "GIF encode expects HxWx3 RGB (GIF has no alpha plane; "
                "drop it upstream)"
            )
        h, w = px.shape[:2]
        flat = px.reshape(-1, 3)
        colors, idx = np.unique(flat, axis=0, return_inverse=True)
        if len(colors) > 256:
            raise ValueError(
                f"GIF needs <= 256 colors, image has {len(colors)} — quantize first"
            )
        # palette size must be a power of two, min 2
        n_pal = max(2, 1 << (len(colors) - 1).bit_length())
        pal = np.zeros((n_pal, 3), dtype=np.uint8)
        pal[: len(colors)] = colors
        min_code = max(2, n_pal.bit_length() - 1)
        lzw = self._lzw_encode(min_code, [int(i) for i in idx])
        blocks = bytearray()
        for off in range(0, len(lzw), 255):
            chunk = lzw[off : off + 255]
            blocks.append(len(chunk))
            blocks += chunk
        blocks.append(0)
        packed = 0x80 | (n_pal.bit_length() - 2)
        return (
            b"GIF89a"
            + w.to_bytes(2, "little") + h.to_bytes(2, "little")
            + bytes([packed, 0, 0])
            + pal.tobytes()
            + b"\x2c" + b"\x00" * 4
            + w.to_bytes(2, "little") + h.to_bytes(2, "little")
            + b"\x00"
            + bytes([min_code])
            + bytes(blocks)
            + b"\x3b"
        )


def make_png_media_table(spark, n: int = 48) -> DataFrame:
    """Deterministic REAL-PNG media table: image i is a solid
    (i*5 % 256, i*9 % 256, i*13 % 256) RGB of size (6 + i%4) x (5 + i%3),
    DEFLATE-compressed through PngCodec.encode — per-channel means stay
    analytic in the id, so the full parse→inflate→unfilter chain is
    ORACLE-checkable (multimodal_png_features)."""
    codec = PngCodec()
    rows = []
    for i in range(n):
        w, h = 6 + i % 4, 5 + i % 3
        px = np.zeros((h, w, 3), dtype=np.uint8)
        px[:, :] = ((i * 5) % 256, (i * 9) % 256, (i * 13) % 256)
        rows.append((i, bytearray(codec.encode(px)), (w, h, 3, "png")))
    return spark.createDataFrame(rows, IMAGE_TABLE_SCHEMA)


def make_gif_media_table(spark, n: int = 48) -> DataFrame:
    """Deterministic REAL-GIF media table: image i is a solid
    (i*7 % 256, i*11 % 256, i*3 % 256) RGB of size (5 + i%4) x (4 + i%3),
    LZW-compressed through GifCodec.encode — per-channel means analytic in
    the id, so the parse→LZW-inflate→palette chain is ORACLE-checkable
    (multimodal_gif_features)."""
    codec = GifCodec()
    rows = []
    for i in range(n):
        w, h = 5 + i % 4, 4 + i % 3
        px = np.zeros((h, w, 3), dtype=np.uint8)
        px[:, :] = ((i * 7) % 256, (i * 11) % 256, (i * 3) % 256)
        rows.append((i, bytearray(codec.encode(px)), (w, h, 3, "gif")))
    return spark.createDataFrame(rows, IMAGE_TABLE_SCHEMA)


def make_jpeg_media_table(spark, n: int = 48, quality: int = 90) -> DataFrame:
    """Deterministic REAL-JPEG media table: image i is a solid
    (i*6 % 256, i*10 % 256, i*14 % 256) RGB of size (10 + i%6) x (9 + i%5),
    DCT+Huffman-compressed through JpegCodec.encode. JPEG is lossy, but a
    solid color is DC-only, so the decoded value has a CLOSED FORM
    (jpeg.solid_color_roundtrip_reference) — the oracle embeds those
    reference values, making the full Huffman→dequantize→IDCT→YCbCr chain
    hash-checkable."""
    from gohangout_spark.functions.jpeg import JpegCodec

    codec = JpegCodec(quality=quality)
    rows = []
    for i in range(n):
        w, h = 10 + i % 6, 9 + i % 5
        px = np.zeros((h, w, 3), dtype=np.uint8)
        px[:, :] = ((i * 6) % 256, (i * 10) % 256, (i * 14) % 256)
        rows.append((i, bytearray(codec.encode(px)), (w, h, 3, "jpeg")))
    return spark.createDataFrame(rows, IMAGE_TABLE_SCHEMA)


def make_webp_media_table(spark, n: int = 48) -> DataFrame:
    """Deterministic REAL-WebP (VP8L lossless) media table: image i is a
    (10 + i%6) x (9 + i%5) two-tone — left half color1(i), right half
    color2(i) — so per-channel means are analytic. Encoding rotates
    through the three stream shapes (plain literals / SUBTRACT_GREEN /
    packed 2-color palette by i%3), so the gated query exercises the
    transform machinery, not just the literal path. Lossless means the
    oracle compares EXACT colors — no closed-form tolerance like JPEG."""
    from gohangout_spark.functions.webp import WebpLosslessCodec

    codec = WebpLosslessCodec()
    rows = []
    for i in range(n):
        w, h = 10 + i % 6, 9 + i % 5
        c1 = ((i * 6) % 256, (i * 10) % 256, (i * 14) % 256)
        c2 = ((i * 9 + 31) % 256, (i * 5 + 77) % 256, (i * 13 + 11) % 256)
        px = np.zeros((h, w, 3), dtype=np.uint8)
        px[:, : w // 2] = c1
        px[:, w // 2 :] = c2
        kw = {}
        if i % 3 == 0:
            kw["palette"] = True
        elif i % 3 == 1:
            kw["subtract_green"] = True
        rows.append((i, bytearray(codec.encode(px, **kw)), (w, h, 3, "webp")))
    return spark.createDataFrame(rows, IMAGE_TABLE_SCHEMA)


class WavPcmCodec:
    """REAL 16-bit PCM WAV decode/encode via the stdlib ``wave`` module —
    the uncompressed-audio path needs no external libs either."""

    def decode(self, payload: bytes, sample_rate: int = 16000) -> np.ndarray:
        import io
        import wave

        with wave.open(io.BytesIO(payload)) as wf:
            if wf.getsampwidth() != 2:
                raise ValueError("only 16-bit PCM supported")
            raw = wf.readframes(wf.getnframes())
        pcm = np.frombuffer(raw, dtype="<i2").astype(np.float32) / 32768.0
        return pcm

    def encode(self, pcm: np.ndarray, sample_rate: int = 16000) -> bytes:
        import io
        import wave

        buf = io.BytesIO()
        with wave.open(buf, "wb") as wf:
            wf.setnchannels(1)
            wf.setsampwidth(2)
            wf.setframerate(sample_rate)
            wf.writeframes(
                np.round(np.clip(pcm, -1.0, 1.0) * 32767).astype("<i2").tobytes()
            )
        return buf.getvalue()


def make_wav_media_table(spark, n: int = 32, sample_rate: int = 16000) -> DataFrame:
    """Deterministic REAL-WAV media table: clip i is a constant-amplitude
    ((i%20)-10)/16 mono signal of 800 + 10*i samples — RMS, duration and
    zero-crossings are analytic, so the decoded features are
    oracle-checkable (multimodal_wav_features)."""
    codec = WavPcmCodec()
    rows = []
    for i in range(n):
        amp = ((i % 20) - 10) / 16.0
        pcm = np.full(800 + 10 * i, amp, dtype=np.float32)
        rows.append((i, bytearray(codec.encode(pcm, sample_rate)), (0, 0, 1, "wav")))
    return spark.createDataFrame(rows, IMAGE_TABLE_SCHEMA)


class FlacAudioCodec:
    """Adapter exposing functions.flac.FlacCodec through the audio-codec
    contract (decode(payload, sample_rate) -> float PCM in [-1, 1], mono):
    the compressed-LOSSLESS audio path — decoded samples are bit-identical
    to the encoded PCM, so the analytic WAV fixtures carry over unchanged
    (multimodal_flac_features)."""

    def decode(self, payload: bytes, sample_rate: int = 16000) -> np.ndarray:
        from gohangout_spark.functions.flac import FlacCodec

        samples, _sr = FlacCodec().decode(payload)
        return samples[:, 0].astype(np.float64) / 32768.0

    def encode(self, pcm: np.ndarray, sample_rate: int = 16000) -> bytes:
        from gohangout_spark.functions.flac import FlacCodec

        ints = np.round(np.clip(pcm, -1.0, 1.0) * 32767).astype(np.int32)
        return FlacCodec(sample_rate=sample_rate).encode(ints)


def make_flac_media_table(spark, n: int = 32, sample_rate: int = 16000) -> DataFrame:
    """FLAC twin of make_wav_media_table: the SAME constant-amplitude
    analytic clips, rice-compressed — losslessness means the decoded
    features share the wav fixture's closed form."""
    codec = FlacAudioCodec()
    rows = []
    for i in range(n):
        amp = ((i % 20) - 10) / 16.0
        pcm = np.full(800 + 10 * i, amp, dtype=np.float32)
        rows.append((i, bytearray(codec.encode(pcm, sample_rate)), (0, 0, 1, "flac")))
    return spark.createDataFrame(rows, IMAGE_TABLE_SCHEMA)


class ImaAdpcmAudioCodec:
    """Adapter exposing functions.adpcm.ImaAdpcmCodec through the
    audio-codec contract — the compressed-LOSSY audio path (4:1 vs
    16-bit PCM). Unlike WAV/FLAC the decode is not the encoded PCM, so
    the gate verifies the decoded stream itself: DuckDB replays the IMA
    state machine over the literal nibble stream (multimodal_adpcm_decode)
    and pytest cross-checks the recurrence against CPython's audioop."""

    def __init__(self, block_align: int = 256):
        self.block_align = block_align

    def decode(self, payload: bytes, sample_rate: int = 16000) -> np.ndarray:
        from gohangout_spark.functions.adpcm import ImaAdpcmCodec

        pcm = ImaAdpcmCodec(sample_rate, self.block_align).decode(payload)
        return pcm.astype(np.float64) / 32768.0

    def encode(self, pcm: np.ndarray, sample_rate: int = 16000) -> bytes:
        from gohangout_spark.functions.adpcm import ImaAdpcmCodec

        ints = np.round(np.clip(pcm, -1.0, 1.0) * 32767).astype(np.int64)
        return ImaAdpcmCodec(sample_rate, self.block_align).encode(ints)


def adpcm_fixture_clip(i: int, n_samples: int = 33) -> np.ndarray:
    """Deterministic int16 clip i for the ADPCM gate: a quadratic-phase
    modular sweep that exercises both sign nibbles and the full step
    ladder. Shared by make_adpcm_media_table AND the oracle builder so
    the fixture waveform cannot drift between the two sides (the oracle
    only ever ENCODES with it — its decode is pure SQL)."""
    t = np.arange(n_samples, dtype=np.int64)
    return ((i * 911 + t * t * 241 + t * 37) % 65536) - 32768


def make_adpcm_media_table(
    spark, n: int = 32, sample_rate: int = 16000, block_align: int = 20
) -> DataFrame:
    """IMA-ADPCM media table: clip i is adpcm_fixture_clip(i) compressed
    at block_align=20 (33 samples = exactly one block), so every clip's
    nibble stream is small enough to embed as oracle literals while still
    walking the whole quantizer state machine."""
    from gohangout_spark.functions.adpcm import ImaAdpcmCodec

    codec = ImaAdpcmCodec(sample_rate, block_align)
    spb = codec.samples_per_block
    rows = []
    for i in range(n):
        payload = codec.encode(adpcm_fixture_clip(i, spb))
        rows.append((i, bytearray(payload), (0, 0, 1, "adpcm")))
    return spark.createDataFrame(rows, IMAGE_TABLE_SCHEMA)


ADPCM_DECODE_SCHEMA = (
    "media_id long, n_samples int, first_sample int, last_sample int, "
    "sum_samples long, min_sample int, max_sample int"
)


def _extract_pcm_decode_stats(df: DataFrame, decode) -> DataFrame:
    """Shared reducer for the lossy-audio gates: ``decode`` maps payload
    bytes to an int64 sample array; per clip the mapInPandas pass emits
    the stats columns the SQL replays aggregate to (one reducer, so the
    ADPCM and G.711 gate families cannot drift apart)."""

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                pcm = decode(bytes(content))
                out.append(
                    (
                        mid,
                        len(pcm),
                        int(pcm[0]),
                        int(pcm[-1]),
                        int(pcm.sum()),
                        int(pcm.min()),
                        int(pcm.max()),
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "media_id",
                    "n_samples",
                    "first_sample",
                    "last_sample",
                    "sum_samples",
                    "min_sample",
                    "max_sample",
                ],
            )

    return df.mapInPandas(stats, ADPCM_DECODE_SCHEMA)


def extract_adpcm_decode_stats(df: DataFrame, block_align: int = 20) -> DataFrame:
    """Decode IMA-ADPCM clips inside mapInPandas and emit per-clip stats
    over the decoded int16 stream — the columns the SQL state-machine
    replay aggregates to."""
    from gohangout_spark.functions.adpcm import ImaAdpcmCodec

    def decode(payload: bytes):
        return ImaAdpcmCodec(block_align=block_align).decode(payload).astype(
            np.int64
        )

    return _extract_pcm_decode_stats(df, decode)


def make_g711_media_table(
    spark, n: int = 32, n_samples: int = 400, sample_rate: int = 8000
) -> DataFrame:
    """G.711 media table: clip i is adpcm_fixture_clip(i, n_samples)
    (the same quadratic-phase modular sweep — closed-form, so the oracle
    re-derives the PCM in SQL) companded as μ-law for even ids and A-law
    for odd ids — one table exercising both curves."""
    from gohangout_spark.functions.g711 import G711Codec

    rows = []
    for i in range(n):
        law = "ulaw" if i % 2 == 0 else "alaw"
        payload = G711Codec(law, sample_rate).encode(
            adpcm_fixture_clip(i, n_samples)
        )
        rows.append((i, bytearray(payload), (0, 0, 1, law)))
    return spark.createDataFrame(rows, IMAGE_TABLE_SCHEMA)


def extract_g711_decode_stats(df: DataFrame) -> DataFrame:
    """Decode G.711 clips inside mapInPandas (law sniffed from the WAV
    fmt tag by the codec) and emit the same per-clip stats shape as the
    ADPCM path, over the decoded int16 stream."""
    from gohangout_spark.functions.g711 import G711Codec

    def decode(payload: bytes):
        # decode() dispatches on the fmt tag, constructor law is moot
        return G711Codec("ulaw").decode(payload).astype(np.int64)

    return _extract_pcm_decode_stats(df, decode)


MP3_FEATURE_SCHEMA = (
    "media_id long, n_frames int, sample_rate int, bitrate_kbps int, "
    "active_subband int, peak_level double"
)


def make_mp3_media_table(spark, n: int = 32) -> DataFrame:
    """MPEG-1 Layer I media table (functions/mp3.py): clip ``i`` carries a
    CONSTANT subband signal — amplitude a = ((i % 20) - 10)/16 in subband
    i % 32 over 12·(1 + i % 3) granules, everything else silent (the
    alloc-0 path; a == 0 at i % 20 == 10 makes the whole clip silent).
    Constant-per-subband is the closed-form fixture: the decoded value is
    exactly scalefactor · requantize(quantize(a / scalefactor)) — one
    arithmetic chain the multimodal_mp3_features oracle replays verbatim
    in SQL, so a wrong scalefactor pick, quantizer rounding, or
    requantization constant all hash-mismatch."""
    from gohangout_spark.functions.mp3 import Mp3LayerICodec

    codec = Mp3LayerICodec(sample_rate=32000, nb=10)
    rows = []
    for i in range(n):
        a = ((i % 20) - 10) / 16.0
        sb = np.zeros((12 * (1 + i % 3), 32))
        sb[:, i % 32] = a
        rows.append((i, bytearray(codec.encode_subbands(sb)), (0, 0, 1, "mp3")))
    return spark.createDataFrame(rows, IMAGE_TABLE_SCHEMA)


def extract_mp3_features(df: DataFrame) -> DataFrame:
    """Parse + requantize Layer I frames inside mapInPandas and emit
    header facts plus the dominant subband and its peak |sample| (NULL
    subband / 0.0 level for all-silent clips). Peak rather than RMS so
    the oracle's replay is an identical float chain with no
    summation-order seam (max over equal values is exact). Media bytes
    never leave the scan task — the same clip-parallel shape as every
    other extractor here."""
    from gohangout_spark.functions.mp3 import Mp3LayerICodec

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                sb, info = Mp3LayerICodec.decode_subbands(bytes(content))
                amax = np.abs(sb).max(axis=0)
                if amax.max() > 0.0:
                    k = int(np.argmax(amax))
                    level = float(amax[k])
                else:
                    k, level = None, 0.0
                out.append(
                    (
                        int(mid),
                        info["n_frames"],
                        info["sample_rate"],
                        info["bitrate_kbps"],
                        k,
                        level,
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "media_id", "n_frames", "sample_rate", "bitrate_kbps",
                    "active_subband", "peak_level",
                ],
            )

    return df.mapInPandas(feats, MP3_FEATURE_SCHEMA)


def qoi_fixture_pixel(i: int, x: int, y: int) -> tuple[int, int, int]:
    """Closed-form fixture pixel for image ``i`` at ``(x, y)`` — the
    row pattern cycles through the five 3-channel QOI op families
    (RUN / DIFF / LUMA / RGB / INDEX-heavy repeat), and the
    ``multimodal_qoi_features`` oracle re-derives the identical values in
    SQL (the formulas below are mirrored verbatim in its CASE arms)."""
    m = y % 5
    if m == 0:  # flat row -> QOI_OP_RUN
        return (i * 7) % 256, (i * 11) % 256, (i * 13) % 256
    if m == 1:  # +1/channel/step -> QOI_OP_DIFF
        return (i * 7 + x) % 256, (i * 11 + x) % 256, (i * 13 + x) % 256
    if m == 2:  # vg=9, vg_r=+1, vg_b=-2 -> QOI_OP_LUMA
        return (i * 7 + 10 * x) % 256, (i * 11 + 9 * x) % 256, (i * 13 + 7 * x) % 256
    # m in (3, 4): large jumps -> QOI_OP_RGB; row m==4 repeats row m==3
    # pixel-for-pixel (same x-only formula) -> QOI_OP_INDEX hits
    return (i * 31 + x * 97) % 256, (i * 17 + x * 59) % 256, (i * 23 + x * 131) % 256


def make_qoi_media_table(spark, n: int = 48) -> DataFrame:
    """Deterministic REAL-QOI media table: image i is
    (12 + i%5) x (10 + i%4) with qoi_fixture_pixel rows, encoded through
    functions/qoi.QoiCodec — closed-form pixels, so the full
    header→chunk-stream→running-index decode chain is ORACLE-checkable
    (multimodal_qoi_features) and the stream provably contains all five
    3-channel ops (tests/test_qoi.py asserts op coverage)."""
    from gohangout_spark.functions.qoi import QoiCodec

    codec = QoiCodec()
    rows = []
    for i in range(n):
        w, h = 12 + i % 5, 10 + i % 4
        px = np.zeros((h, w, 3), dtype=np.uint8)
        for y in range(h):
            for x in range(w):
                px[y, x] = qoi_fixture_pixel(i, x, y)
        rows.append((i, bytearray(codec.encode(px)), (w, h, 3, "qoi")))
    return spark.createDataFrame(rows, IMAGE_TABLE_SCHEMA)


QOI_STATS_SCHEMA = (
    "media_id long, width int, height int, n_pixels long, "
    "sum_r long, sum_g long, sum_b long, checksum long"
)


def extract_qoi_decode_stats(df: DataFrame) -> DataFrame:
    """Decode QOI images inside mapInPandas and reduce each to channel
    sums plus a position-weighted checksum
    ``sum((3r+5g+7b+11) * (1 + (y*w+x) % 97))`` — the weight pins every
    pixel to its raster position, so an op that decodes the right colors
    in the wrong places (e.g. a run length off by one) still mismatches."""
    from gohangout_spark.functions.qoi import QoiCodec

    codec = QoiCodec()

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                px = codec.decode(bytes(content)).astype(np.int64)
                h, w = px.shape[:2]
                pos = np.arange(h * w).reshape(h, w)
                weight = 1 + pos % 97
                r, g, b = px[..., 0], px[..., 1], px[..., 2]
                out.append(
                    (
                        int(mid), w, h, h * w,
                        int(r.sum()), int(g.sum()), int(b.sum()),
                        int(((3 * r + 5 * g + 7 * b + 11) * weight).sum()),
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "media_id", "width", "height", "n_pixels",
                    "sum_r", "sum_g", "sum_b", "checksum",
                ],
            )

    return df.mapInPandas(feats, QOI_STATS_SCHEMA)


def make_fake_media_table(spark, n: int = 64) -> DataFrame:
    """Deterministic binary media table for pipeline testing."""
    rows = []
    for i in range(n):
        payload = hashlib.sha256(str(i).encode()).digest() * 8
        rows.append((i, bytearray(payload), (8, 8, 3, "fake")))
    return spark.createDataFrame(rows, IMAGE_TABLE_SCHEMA)


FEATURE_SCHEMA = "media_id long, mean_r double, mean_g double, mean_b double, width int, height int"


def extract_image_features(df: DataFrame, codec=None) -> DataFrame:
    """Decode + per-channel mean features via mapInPandas (Arrow batches)."""
    codec = codec or DeterministicFakeCodec()

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                px = codec.decode(bytes(content))
                means = px.reshape(-1, 3).mean(axis=0)
                out.append(
                    (mid, float(means[0]), float(means[1]), float(means[2]),
                     px.shape[1], px.shape[0])
                )
            yield pd.DataFrame(
                out, columns=["media_id", "mean_r", "mean_g", "mean_b", "width", "height"]
            )

    return df.mapInPandas(feats, FEATURE_SCHEMA)


def resize_images(df: DataFrame, width: int, height: int, codec=None) -> DataFrame:
    """Resize via nearest-neighbor on the decoded array (stub-codec friendly);
    returns same schema with new content + updated meta."""
    codec = codec or DeterministicFakeCodec()
    schema = df.schema

    def do_resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            contents, metas = [], []
            for content in pdf["content"]:
                px = codec.decode(bytes(content))
                ys = (np.linspace(0, px.shape[0] - 1, height)).astype(int)
                xs = (np.linspace(0, px.shape[1] - 1, width)).astype(int)
                resized = px[np.ix_(ys, xs)]
                contents.append(bytearray(codec.encode(resized)))
                metas.append({"width": width, "height": height, "channels": 3, "format": "raw"})
            pdf = pdf.copy()
            pdf["content"] = contents
            pdf["meta"] = metas
            yield pdf

    return df.mapInPandas(do_resize, schema)


class RawVideoCodec:
    """REAL frame-sequence decode for the uncompressed 'rawvid' container:
    the payload is N binary-PPM (P6) frames back-to-back — each frame's
    length is self-describing (header + w*h*3), so sequential parsing
    needs no index. The moral equivalent of MJPEG for environments without
    ffmpeg; real containers plug in at the same seam."""

    def __init__(self):
        self._ppm = PpmCodec()

    def iter_frames(self, payload: bytes):
        pos = 0
        while pos < len(payload):
            if payload[pos : pos + 2] != b"P6":
                raise ValueError(f"bad frame magic at offset {pos}")
            # decode from the remaining buffer, then advance by the frame's
            # encoded size (re-derived from the decoded dims)
            px = self._ppm.decode(payload[pos:])
            pos += len(self._ppm.encode(px))
            yield px

    @staticmethod
    def encode(frames) -> bytes:
        ppm = PpmCodec()
        return b"".join(ppm.encode(f) for f in frames)


class AviMjpegCodec:
    """REAL MJPEG-in-AVI container demux/mux — no ffmpeg, no external
    libs. MJPEG-in-AVI is the simplest real-world video container: a RIFF
    tree (``RIFF 'AVI '`` → ``LIST hdrl`` with avih/strh/strf headers →
    ``LIST movi`` holding one ``00dc`` chunk per baseline-JPEG frame →
    ``idx1`` keyframe index), each frame independently decodable by
    :class:`~gohangout_spark.functions.jpeg.JpegCodec`.

    ``encode(frames)`` writes a standards-correct minimal AVI (honest
    avih/strh/strf dims, rates and counts; word-aligned chunks; idx1 with
    AVIIF_KEYFRAME entries and movi-relative offsets) that mainstream
    players/ffmpeg open. ``iter_frames(payload)`` is a tolerant RIFF walk:
    it finds ``LIST movi`` wherever it sits, recurses into ``rec `` groups
    (the OpenDML interleave form), accepts ``..dc``/``..db`` frame chunks,
    and ignores unknown chunks — the behavior a demuxer needs against
    files written by other muxers. Interframe codecs (H.264 etc.) remain
    the documented environment gap; they would plug in at this same
    ``iter_frames`` seam."""

    def __init__(self, quality: int = 90, fps: int = 25):
        from gohangout_spark.functions.jpeg import JpegCodec

        self._jpeg = JpegCodec(quality=quality)
        self.fps = int(fps)

    # --------------------------------------------------------------- mux
    @staticmethod
    def _chunk(fourcc: bytes, data: bytes) -> bytes:
        import struct

        pad = b"\x00" if len(data) % 2 else b""
        return fourcc + struct.pack("<I", len(data)) + data + pad

    @classmethod
    def _riff_list(cls, subtype: bytes, payload: bytes) -> bytes:
        return cls._chunk(b"LIST", subtype + payload)

    def encode(self, frames) -> bytes:
        import struct

        frames = list(frames)
        if not frames:
            raise ValueError("AVI encode needs at least one frame")
        h, w = np.asarray(frames[0]).shape[:2]
        jpegs = [self._jpeg.encode(np.asarray(f, dtype=np.uint8)) for f in frames]

        movi_body = b""
        idx_entries = []
        offset = 4  # first chunk sits right after the 4-byte 'movi' fourcc
        for j in jpegs:
            movi_body += self._chunk(b"00dc", j)
            idx_entries.append(
                struct.pack("<4sIII", b"00dc", 0x10, offset, len(j))
            )
            offset += 8 + len(j) + (len(j) % 2)

        max_jpeg = max(len(j) for j in jpegs)
        avih = struct.pack(
            "<14I",
            1_000_000 // self.fps,  # dwMicroSecPerFrame
            max_jpeg * self.fps,    # dwMaxBytesPerSec
            0,                      # dwPaddingGranularity
            0x10,                   # dwFlags: AVIF_HASINDEX
            len(jpegs),             # dwTotalFrames
            0, 1,                   # dwInitialFrames, dwStreams
            max_jpeg,               # dwSuggestedBufferSize
            w, h, 0, 0, 0, 0,       # width, height, reserved[4]
        )
        strh = struct.pack(
            "<4s4sIHHIIIIIIIi4H",
            b"vids", b"MJPG",
            0, 0, 0, 0,             # flags, priority, language, initial
            1, self.fps,            # dwScale / dwRate -> fps
            0, len(jpegs),          # dwStart, dwLength (frames)
            max_jpeg, 10_000,       # buffer, quality
            0,                      # dwSampleSize (0: one sample = one frame)
            0, 0, w, h,             # rcFrame
        )
        strf = struct.pack(
            "<IiiHH4sIiiII",
            40, w, h, 1, 24,        # BITMAPINFOHEADER: size, dims, planes, bpp
            b"MJPG", w * h * 3,     # biCompression, biSizeImage
            0, 0, 0, 0,
        )
        hdrl = self._riff_list(
            b"hdrl",
            self._chunk(b"avih", avih)
            + self._riff_list(
                b"strl", self._chunk(b"strh", strh) + self._chunk(b"strf", strf)
            ),
        )
        body = (
            b"AVI "
            + hdrl
            + self._riff_list(b"movi", movi_body)
            + self._chunk(b"idx1", b"".join(idx_entries))
        )
        return b"RIFF" + struct.pack("<I", len(body)) + body

    # ------------------------------------------------------------- demux
    @staticmethod
    def _chunks(buf: bytes):
        import struct

        pos = 0
        while pos + 8 <= len(buf):
            fourcc = buf[pos : pos + 4]
            size = struct.unpack("<I", buf[pos + 4 : pos + 8])[0]
            yield fourcc, buf[pos + 8 : pos + 8 + size]
            pos += 8 + size + (size % 2)  # chunks are word-aligned

    def _movi_frames(self, buf: bytes):
        for fourcc, data in self._chunks(buf):
            if fourcc == b"LIST" and data[:4] == b"rec ":
                yield from self._movi_frames(data[4:])
            elif fourcc[2:4] in (b"dc", b"db") and data:
                yield self._jpeg.decode(data)

    def iter_frames(self, payload: bytes):
        import struct

        if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
            raise ValueError("not a RIFF/AVI payload")
        riff_size = struct.unpack("<I", payload[4:8])[0]
        body = payload[12 : 8 + riff_size]
        for fourcc, data in self._chunks(body):
            if fourcc == b"LIST" and data[:4] == b"movi":
                yield from self._movi_frames(data[4:])

    def probe(self, payload: bytes) -> dict:
        """Header metadata without decoding frames (the demuxer's cheap
        path): dims/fps/frame count from avih+strh, index presence from
        idx1 — what a 100 TB scan reads to PLAN frame extraction."""
        import struct

        if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
            raise ValueError("not a RIFF/AVI payload")
        info: dict = {"has_index": False}
        body = payload[12:]
        for fourcc, data in self._chunks(body):
            if fourcc == b"idx1":
                info["has_index"] = True
                info["n_index_entries"] = len(data) // 16
            elif fourcc == b"LIST" and data[:4] == b"hdrl":
                for f2, d2 in self._chunks(data[4:]):
                    if f2 == b"avih":
                        vals = struct.unpack("<14I", d2[:56])
                        info["usec_per_frame"] = vals[0]
                        info["n_frames"] = vals[4]
                        info["width"], info["height"] = vals[8], vals[9]
                    elif f2 == b"LIST" and d2[:4] == b"strl":
                        for f3, d3 in self._chunks(d2[4:]):
                            if f3 == b"strh":
                                info["handler"] = d3[4:8].decode("ascii")
                                scale, rate = struct.unpack("<II", d3[20:28])
                                info["fps"] = rate // max(scale, 1)
        return info


def make_avi_media_table(spark, n: int = 24, quality: int = 90) -> DataFrame:
    """Deterministic REAL MJPEG-AVI table: clip i holds 2 + i%3 solid-color
    (10 + i%6) x (9 + i%5) frames, frame j colored
    ((i*7 + j*31) % 256, (i*11 + j*13) % 256, (i*3 + j*29) % 256) —
    solid-color JPEG decode has the DC-only closed form
    (jpeg.solid_color_roundtrip_reference), so container demux + frame
    decode is oracle-checkable end-to-end."""
    codec = AviMjpegCodec(quality=quality)
    rows = []
    for i in range(n):
        w, h = 10 + i % 6, 9 + i % 5
        frames = []
        for j in range(2 + i % 3):
            px = np.zeros((h, w, 3), dtype=np.uint8)
            px[:, :] = (
                (i * 7 + j * 31) % 256,
                (i * 11 + j * 13) % 256,
                (i * 3 + j * 29) % 256,
            )
            frames.append(px)
        rows.append((i, bytearray(codec.encode(frames)), (w, h, 3, "avi")))
    return spark.createDataFrame(rows, IMAGE_TABLE_SCHEMA)


VIDEO_FRAME_FEATURE_SCHEMA = (
    "media_id long, frame_idx int, mean_r double, mean_g double, "
    "mean_b double, width int, height int"
)


def extract_video_frame_features(
    df: DataFrame, codec, every_n: int = 1
) -> DataFrame:
    """Demux + decode + per-frame channel means in one mapInPandas pass:
    every ``every_n``-th frame of each clip becomes a feature row. The
    100 TB shape for video feature extraction — container bytes never
    leave the scan task, no shuffle, one Arrow batch of clips per task."""

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                for idx, px in enumerate(codec.iter_frames(bytes(content))):
                    if idx % every_n:
                        continue
                    m = px.reshape(-1, 3).mean(axis=0)
                    rows.append(
                        (mid, idx, float(m[0]), float(m[1]), float(m[2]),
                         px.shape[1], px.shape[0])
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "frame_idx", "mean_r", "mean_g", "mean_b",
                    "width", "height",
                ],
            )

    return df.mapInPandas(feats, VIDEO_FRAME_FEATURE_SCHEMA)


def screenvideo_fixture_params(i: int):
    """Geometry + schedule for Screen Video gate clip i: dims exercising
    partial edge blocks, 3-4 frames, and a deterministic block-update
    schedule — block (bx, by) updates at frame j iff j == 0 (keyframe) or
    (bx + by + j) % 3 == 0. Color when updated at j is the closed form
    below. Shared by make_screenvideo_media_table AND (re-derived as pure
    arithmetic) the oracle builder, so the schedule cannot drift."""
    w = 20 + (i % 3) * 7   # 20 | 27 | 34 -> 2-3 block columns at bs=16
    h = 18 + (i % 2) * 5   # 18 | 23     -> 2 block rows, top one cropped
    n_frames = 3 + i % 2
    return w, h, n_frames


def screenvideo_fixture_color(i: int, bx: int, by: int, j: int):
    return (
        (i * 7 + bx * 13 + by * 29 + j * 31) % 256,
        (i * 11 + bx * 17 + by * 5 + j * 13) % 256,
        (i * 3 + bx * 23 + by * 19 + j * 29) % 256,
    )


def screenvideo_fixture_updates(bx: int, by: int, j: int) -> bool:
    """True iff block (bx, by) re-sends at frame j — keyframe (j = 0) or
    the interframe schedule hit (~1/3 of blocks per frame). The ONE copy
    of the schedule predicate: the media-table builder, the oracle
    builder and the marker-emission test all call this."""
    return j == 0 or (bx + by + j) % 3 == 0


def screenvideo_fixture_frames(i: int) -> list:
    """Clip i's frames, built from params/schedule/color — the ONE copy
    of the frame-construction loop (the media table, the 100x sweep's
    distributed encoder and the marker-emission test all call this)."""
    from gohangout_spark.functions.screenvideo import ScreenVideoCodec

    w, h, n_frames = screenvideo_fixture_params(i)
    nbx, nby = (w + 15) // 16, (h + 15) // 16
    last: dict = {}
    frames = []
    for j in range(n_frames):
        frame = np.zeros((h, w, 3), dtype=np.uint8)
        for by in range(nby):
            for bx in range(nbx):
                if screenvideo_fixture_updates(bx, by, j):
                    last[bx, by] = j
                region = ScreenVideoCodec._block_region(frame, 16, bx, by, w, h)
                region[:, :] = screenvideo_fixture_color(i, bx, by, last[bx, by])
        frames.append(frame)
    return frames


def make_screenvideo_media_table(spark, n: int = 24) -> DataFrame:
    """FLV Screen Video media table: clip i's frames are per-block solid
    colors following the fixture schedule — interframes only re-send
    scheduled blocks (the encoder's unchanged-block markers fire for the
    rest), so a decoder that botches the temporal block copy produces
    wrong means for every non-updated block."""
    from gohangout_spark.functions.screenvideo import ScreenVideoCodec

    codec = ScreenVideoCodec(16)
    rows = []
    for i in range(n):
        w, h, _ = screenvideo_fixture_params(i)
        payload = codec.encode(screenvideo_fixture_frames(i))
        rows.append((i, bytearray(payload), (w, h, 3, "flv")))
    return spark.createDataFrame(rows, IMAGE_TABLE_SCHEMA)


def make_rawvideo_media_table(spark, n: int = 24) -> DataFrame:
    """Deterministic REAL raw-video table: clip i holds 2 + i%4 solid-color
    4x3 frames (frame j colored ((i*5 + j*17) % 256, ...)) — per-frame
    means are analytic, so frame sampling + decode is oracle-checkable."""
    rows = []
    for i in range(n):
        frames = []
        for j in range(2 + i % 4):
            px = np.zeros((3, 4, 3), dtype=np.uint8)
            c = (i * 5 + j * 17) % 256
            px[:, :] = (c, (c * 3) % 256, (c * 7) % 256)
            frames.append(px)
        rows.append((i, bytearray(RawVideoCodec.encode(frames)), (4, 3, 3, "rawvid")))
    return spark.createDataFrame(rows, IMAGE_TABLE_SCHEMA)


def sample_video_frames(df: DataFrame, every_n: int = 10, codec=None) -> DataFrame:
    """Every-Nth-frame sampling via mapInPandas. With ``codec`` (e.g.
    RawVideoCodec) the frames are REALLY parsed out of the container and
    re-encoded as standalone PPMs; without one, the deterministic fake
    generator keeps the pipeline shape testable for codec-less formats."""
    out_schema = "media_id long, frame_idx int, frame bytes".replace("bytes", "binary")
    ppm = PpmCodec()

    def frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                if codec is not None:
                    for idx, px in enumerate(codec.iter_frames(bytes(content))):
                        if idx % every_n == 0:
                            rows.append((mid, idx, bytearray(ppm.encode(px))))
                else:
                    n_frames = 1 + (len(content or b"") % 5)
                    for i in range(0, n_frames * every_n, every_n):
                        fake = hashlib.md5(f"{mid}:{i}".encode()).digest()
                        rows.append((mid, i, bytearray(fake)))
            yield pd.DataFrame(rows, columns=["media_id", "frame_idx", "frame"])

    return df.mapInPandas(frames, out_schema)


AUDIO_FEATURE_SCHEMA = (
    "media_id long, duration_s double, rms double, zero_crossings int"
)


class DeterministicFakeAudioCodec:
    """Stable fake PCM decode: samples derived from a hash of the payload."""

    def decode(self, payload: bytes, sample_rate: int = 16000) -> np.ndarray:
        h = hashlib.md5(payload or b"").digest()
        n = 1000 + h[0] * 16
        rng = np.random.RandomState(int.from_bytes(h[:4], "big"))
        return (rng.randn(n) * 0.1).astype(np.float32)


class RealAudioCodec:  # pragma: no cover - container has no audio libs
    def decode(self, payload: bytes, sample_rate: int = 16000) -> np.ndarray:
        raise NotImplementedError("plug librosa/soundfile here (not in container)")


def extract_audio_features(df: DataFrame, codec=None, sample_rate: int = 16000) -> DataFrame:
    """Decode + basic signal features (duration/RMS/zero crossings) via
    mapInPandas — the audio twin of extract_image_features."""
    codec = codec or DeterministicFakeAudioCodec()

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                pcm = codec.decode(bytes(content), sample_rate)
                rms = float(np.sqrt(np.mean(pcm**2)))
                zc = int(((pcm[:-1] * pcm[1:]) < 0).sum())
                out.append((mid, len(pcm) / sample_rate, rms, zc))
            yield pd.DataFrame(
                out, columns=["media_id", "duration_s", "rms", "zero_crossings"]
            )

    return df.mapInPandas(feats, AUDIO_FEATURE_SCHEMA)


def make_sine_wav_media_table(spark, n: int = 24, sample_rate: int = 16000) -> DataFrame:
    """REAL-WAV sine clips at exact FFT-bin frequencies: clip i is 1024
    samples of a 0.5-amplitude sine at bin k = 16 + 8*(i % 10), i.e.
    f = k * sample_rate/1024 Hz — so the dominant spectral bin is analytic
    in the media id and the FFT feature extractor is oracle-checkable."""
    codec = WavPcmCodec()
    rows = []
    t = np.arange(1024)
    for i in range(n):
        k = 16 + 8 * (i % 10)
        pcm = (0.5 * np.sin(2 * np.pi * k * t / 1024)).astype(np.float32)
        rows.append((i, bytearray(codec.encode(pcm, sample_rate)), (0, 0, 1, "wav")))
    return spark.createDataFrame(rows, IMAGE_TABLE_SCHEMA)


SPECTRUM_SCHEMA = "media_id long, n_samples int, dominant_bin int, dominant_freq_hz double"


def extract_audio_spectrum(
    df: DataFrame, codec=None, sample_rate: int = 16000
) -> DataFrame:
    """Real DSP under mapInPandas: decode 16-bit PCM, one rfft per clip,
    dominant non-DC bin + its frequency. Arrow-batched; each task holds
    one batch of clips — the 100 TB shape for per-item media feature
    extraction (no shuffle, media bytes never leave the scan task)."""
    codec = codec or WavPcmCodec()

    def _extract(batches):
        for pdf in batches:
            out = []
            for mid, payload in zip(pdf["media_id"], pdf["content"]):
                pcm = codec.decode(bytes(payload), sample_rate)
                mag = np.abs(np.fft.rfft(pcm))
                mag[0] = 0.0  # exclude DC
                k = int(np.argmax(mag))
                out.append(
                    (
                        int(mid),
                        len(pcm),
                        k,
                        math.floor(k * sample_rate / len(pcm) * 1e4 + 0.5) / 1e4,
                    )
                )
            yield pd.DataFrame(
                out, columns=["media_id", "n_samples", "dominant_bin", "dominant_freq_hz"]
            )

    return df.mapInPandas(_extract, SPECTRUM_SCHEMA)
