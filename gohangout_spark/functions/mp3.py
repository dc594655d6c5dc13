"""MPEG-1 Audio Layer I codec from spec (VERDICT r7 #6 — the last
feasible tier of the lossy-media gap).

Bitstream layer — 100% ISO/IEC 11172-3, zero literal tables (the QOI
doctrine): every constant below is closed-form.

- Frame header (§2.4.1.3): 12-bit sync 0xFFF | ID=1 | layer '11'
  (Layer I) | protection | bitrate_index | sampling_frequency |
  padding | private | mode | mode_ext | copyright | original |
  emphasis. Layer I bitrates are ``index * 32`` kbps (closed form;
  Layer II/III need the tabulated Annex B rate tables, which is one
  reason this module stops at Layer I). Sampling rates 44100/48000/
  32000 by index.
- Frame length (§2.4.2.3): slots of 4 bytes,
  ``N = floor(12 * bitrate / fs) + padding``.
- Audio data, mono (§2.4.1.5-2.4.2.3): 32 x 4-bit allocation codes
  (0 = silent, a = a+1 quantization bits, 15 forbidden), a 6-bit
  scalefactor index per active subband, then 12 granules x one
  ``nb``-bit code per active subband; zero-bit ancillary padding to
  the slot boundary.
- Scalefactors (§2.4.2.5, closed form): sf[i] = 2 * 2^(-i/3),
  i = 0..62.
- Requantization (§2.4.3.3, closed form): with H = 2^(nb-1),
  s'' = (c - H)/H, then s''' = (s'' + 2^(1-nb)) * 2^nb/(2^nb - 1)
  and sample = sf * s'''. The encoder inverts this formula exactly
  and clamps, so decode(encode(S)) reproduces each subband sample to
  within one quantization step.

PCM tier — documented deviation: the ISO synthesis window (Annex B
Table 3-B.3) is tabulated data with no closed form, which the
zero-literal-table doctrine excludes. In its place the PCM path uses
the closed-form DCT-IV modulated filter bank with rectangular
prototype: M[n][k] = cos(pi/32 * (n+1/2) * (k+1/2)), M^T M = 16 I, so
analysis s = M^T x / 16 and synthesis x = M s are an EXACT
perfect-reconstruction pair at the same critical sampling (384 PCM
samples per frame, §2.4.2.1) and identical subband semantics
(subband k covers [k, k+1) * fs/64). Swapping the ISO window into
``_synthesize``/``_analyze`` yields bit-conformant PCM; everything
bitstream-side is already conformant. docs/COVERAGE.md "MP3" records
the seam.
"""

from __future__ import annotations

import math

import numpy as np

SAMPLE_RATES = {0: 44100, 1: 48000, 2: 32000}
_SR_INDEX = {v: k for k, v in SAMPLE_RATES.items()}

SCALEFACTORS = [2.0 * 2.0 ** (-i / 3.0) for i in range(63)]


def _dct4_matrix() -> np.ndarray:
    n = np.arange(32)[:, None]
    k = np.arange(32)[None, :]
    return np.cos(np.pi / 32.0 * (n + 0.5) * (k + 0.5))


_M = _dct4_matrix()


class _BitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, bits: int):
        self.acc = (self.acc << bits) | (value & ((1 << bits) - 1))
        self.nbits += bits
        while self.nbits >= 8:
            self.nbits -= 8
            self.buf.append((self.acc >> self.nbits) & 0xFF)
        self.acc &= (1 << self.nbits) - 1

    def pad_to(self, nbytes: int):
        while self.nbits:
            self.write(0, 1)
        if len(self.buf) > nbytes:
            raise ValueError(f"frame overflow: {len(self.buf)} > {nbytes}")
        self.buf.extend(b"\x00" * (nbytes - len(self.buf)))


class _BitReader:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0  # bit position

    def read(self, bits: int) -> int:
        out = 0
        for _ in range(bits):
            byte = self.data[self.pos >> 3]
            out = (out << 1) | ((byte >> (7 - (self.pos & 7))) & 1)
            self.pos += 1
        return out


def _requantize(code: int, nb: int) -> float:
    """§2.4.3.3 Layer I formula (closed form)."""
    h = 1 << (nb - 1)
    frac = (code - h) / h
    return (frac + 2.0 ** (1 - nb)) * (1 << nb) / ((1 << nb) - 1)


def _quantize(s: float, nb: int) -> int:
    """Exact inverse of _requantize, clamped to the code range.
    Round-half-up (floor(x + 0.5)) rather than Python's half-to-even so
    the choice is replayable as plain SQL in oracles."""
    h = 1 << (nb - 1)
    frac = s * ((1 << nb) - 1) / (1 << nb) - 2.0 ** (1 - nb)
    return max(0, min((1 << nb) - 1, math.floor(frac * h + h + 0.5)))


def _scalefactor_index(peak: float) -> int:
    """Smallest scalefactor >= peak (sf is decreasing in the index), so
    the normalized samples stay inside [-1, 1]."""
    for i in range(62, -1, -1):
        if SCALEFACTORS[i] >= peak:
            return i
    return 0


class Mp3LayerICodec:
    """Mono MPEG-1 Layer I. ``nb`` is the uniform quantization depth the
    encoder assigns to every active subband (spec range 2..15); the
    bitrate index is chosen as the smallest whose frame holds the coded
    payload, remaining bits being spec-legal ancillary zeros."""

    GRANULES = 12  # per frame, §2.4.2.3
    SUBBANDS = 32

    def __init__(self, sample_rate: int = 32000, nb: int = 10):
        if sample_rate not in _SR_INDEX:
            raise ValueError(f"sample_rate must be one of {sorted(_SR_INDEX)}")
        if not 2 <= nb <= 15:
            raise ValueError("nb must be in 2..15 (allocation code nb-1)")
        self.sample_rate = sample_rate
        self.nb = nb

    # ------------------------------------------------------------ frames

    def _frame_bytes(self, bitrate_kbps: int) -> int:
        return 4 * int(12 * bitrate_kbps * 1000 / self.sample_rate)

    def _payload_bits(self, active: int) -> int:
        return 32 + 32 * 4 + active * 6 + self.GRANULES * active * self.nb

    def _pick_bitrate_index(self, active: int) -> int:
        need = self._payload_bits(active)
        for idx in range(1, 15):
            if self._frame_bytes(idx * 32) * 8 >= need:
                return idx
        raise ValueError("no Layer I bitrate fits the requested allocation")

    def encode_subbands(self, subbands: np.ndarray) -> bytes:
        """subbands: (n_frames * 12, 32) float array of subband samples,
        |s| < 2 (the scalefactor ceiling). -> concatenated Layer I
        frames."""
        sb = np.asarray(subbands, dtype=np.float64)
        if sb.ndim != 2 or sb.shape[1] != self.SUBBANDS:
            raise ValueError("subbands must be (n_granules, 32)")
        if sb.shape[0] % self.GRANULES:
            pad = self.GRANULES - sb.shape[0] % self.GRANULES
            sb = np.vstack([sb, np.zeros((pad, self.SUBBANDS))])
        out = bytearray()
        for f in range(sb.shape[0] // self.GRANULES):
            out += self._encode_frame(sb[f * self.GRANULES : (f + 1) * self.GRANULES])
        return bytes(out)

    def _encode_frame(self, gr: np.ndarray) -> bytes:
        peaks = np.abs(gr).max(axis=0)
        active_mask = peaks > 0.0
        active = int(active_mask.sum())
        bitrate_index = self._pick_bitrate_index(active)
        nbytes = self._frame_bytes(bitrate_index * 32)

        w = _BitWriter()
        w.write(0xFFF, 12)            # sync
        w.write(1, 1)                 # ID: MPEG-1
        w.write(0b11, 2)              # layer I
        w.write(1, 1)                 # protection_bit: no CRC
        w.write(bitrate_index, 4)
        w.write(_SR_INDEX[self.sample_rate], 2)
        w.write(0, 1)                 # padding
        w.write(0, 1)                 # private
        w.write(0b11, 2)              # mode: single_channel
        w.write(0, 2)                 # mode_extension
        w.write(0, 1)                 # copyright
        w.write(1, 1)                 # original
        w.write(0, 2)                 # emphasis: none

        for s in range(self.SUBBANDS):
            w.write(self.nb - 1 if active_mask[s] else 0, 4)
        sf_idx = np.zeros(self.SUBBANDS, dtype=int)
        for s in range(self.SUBBANDS):
            if active_mask[s]:
                sf_idx[s] = _scalefactor_index(peaks[s])
                w.write(int(sf_idx[s]), 6)
        for g in range(self.GRANULES):
            for s in range(self.SUBBANDS):
                if active_mask[s]:
                    w.write(
                        _quantize(gr[g, s] / SCALEFACTORS[sf_idx[s]], self.nb),
                        self.nb,
                    )
        w.pad_to(nbytes)
        return bytes(w.buf)

    # ------------------------------------------------------------ decode

    @staticmethod
    def decode_subbands(payload: bytes):
        """Parse concatenated Layer I frames -> (subbands, info):
        subbands (n_frames*12, 32) requantized samples; info dict with
        sample_rate, bitrate_kbps (of the first frame), n_frames."""
        pos = 0
        grans = []
        info = {}
        while pos + 4 <= len(payload):
            r = _BitReader(payload[pos:])
            if r.read(12) != 0xFFF:
                raise ValueError(f"bad sync at byte {pos}")
            if r.read(1) != 1:
                raise ValueError("not MPEG-1")
            if r.read(2) != 0b11:
                raise ValueError("not Layer I")
            r.read(1)  # protection
            bitrate_index = r.read(4)
            sr = SAMPLE_RATES[r.read(2)]
            padding = r.read(1)
            r.read(1)  # private
            mode = r.read(2)
            r.read(2 + 1 + 1 + 2)  # mode_ext, copyright, original, emphasis
            if mode != 0b11:
                raise ValueError("only single_channel supported")
            if bitrate_index in (0, 15):
                raise ValueError("free-format/forbidden bitrate")
            bitrate = bitrate_index * 32
            nbytes = 4 * (int(12 * bitrate * 1000 / sr) + padding)
            if not info:
                info = {"sample_rate": sr, "bitrate_kbps": bitrate}

            alloc = [r.read(4) for _ in range(Mp3LayerICodec.SUBBANDS)]
            if any(a == 15 for a in alloc):
                raise ValueError("forbidden allocation code 15")
            sf = [
                SCALEFACTORS[r.read(6)] if a else 0.0 for a in alloc
            ]
            frame = np.zeros((Mp3LayerICodec.GRANULES, Mp3LayerICodec.SUBBANDS))
            for g in range(Mp3LayerICodec.GRANULES):
                for s, a in enumerate(alloc):
                    if a:
                        nb = a + 1
                        frame[g, s] = sf[s] * _requantize(r.read(nb), nb)
            grans.append(frame)
            pos += nbytes
        if not grans:
            raise ValueError("no frames")
        info["n_frames"] = len(grans)
        return np.vstack(grans), info

    # --------------------------------------------------- PCM (DCT-IV PR)

    def _analyze(self, pcm: np.ndarray) -> np.ndarray:
        n = (len(pcm) + 31) // 32 * 32
        x = np.zeros(n)
        x[: len(pcm)] = pcm
        return x.reshape(-1, 32) @ _M / 16.0

    @staticmethod
    def _synthesize(subbands: np.ndarray) -> np.ndarray:
        return (subbands @ _M.T).reshape(-1)

    def encode(self, pcm: np.ndarray, sample_rate: int | None = None) -> bytes:
        if sample_rate is not None and sample_rate != self.sample_rate:
            raise ValueError("construct the codec with the target sample_rate")
        return self.encode_subbands(self._analyze(np.asarray(pcm, dtype=np.float64)))

    def decode(self, payload: bytes):
        """-> (float64 PCM, sample_rate)."""
        sb, info = self.decode_subbands(payload)
        return self._synthesize(sb), info["sample_rate"]

