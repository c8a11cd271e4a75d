"""Pure-numpy baseline JPEG codec (ITU-T T.81 sequential DCT, Huffman coding).

Decoder: baseline + extended-sequential Huffman JPEG (SOF0/SOF1), 8-bit,
grayscale or YCbCr with any sampling factors up to 4 — including non-divisor
ratios like 3:2 (chroma is index-mapped nearest-neighbor upsampled, exact for
the common 4:4:4/4:2:2/4:2:0/4:4:0 cases) — restart markers, multi-chunk
DQT/DHT, and multi-scan sequential files (one non-interleaved scan per
component, T.81 A.2.2 — some encoders emit these for 3-component images).
Progressive (SOF2), arithmetic coding, and 12-bit precision raise
``ValueError``, the one error type every decoder here raises on an
out-of-scope or corrupt payload.

Encoder: baseline, standard Annex K quantization tables scaled by an IJG-style
quality factor, standard Annex K Huffman tables, 4:4:4 or 4:2:0, optional
restart interval — enough to round-trip real arrays through real JPEG bytes in
tests without Pillow in the container.

Correctness evidence: encoder and decoder share no state beyond the public
Annex K constants; tests round-trip through the full marker/Huffman/DCT path
and assert pixel error bounded by the quantization step, plus structural spec
invariants on the canonical Huffman tables (counts/lengths/prefix-freeness).

Scale notes: entropy decode is sequential per payload by construction (bit
stream with feedback through DC predictors); the registry rows that run it
(``multimodal_phash_groups``, and ``multimodal_video_dedup`` per frame) call
it inside an Arrow-batched ``mapInPandas`` narrow map, so per-payload Python
cost is the unit of work and payload size is bounded by
``MAX_PIXELS`` before any allocation — a lying SOF header cannot OOM an
executor. The IDCT/color math is vectorized numpy over all blocks at once.

The reference repo has no image handling; this capability belongs to the
LLM-data-pipeline surface (multimodal dedup).
"""

from __future__ import annotations

import struct

import numpy as np

# refuse to decode images claiming more pixels than this BEFORE allocating.
# The bound is sized to the decoder's real working set, not the output: float32
# coefficient planes + IDCT temporaries + upsampled planes peak near ~40 B per
# pixel, so 16 MP caps an adversarial few-KB payload (lying SOF, all-EOB
# blocks) at ~650 MB transient and a ~1 s entropy loop instead of letting it
# OOM or pin an executor (same spirit as audio.MAX_SAMPLES).
MAX_PIXELS = 16 * 1024 * 1024


# --------------------------------------------------------------------------
# Shared constants (ITU-T T.81 Annex K — public spec data)
# --------------------------------------------------------------------------

def _make_zigzag() -> np.ndarray:
    """ZZ[i] = natural (row-major) flat index of the i-th zigzag coefficient."""
    order = []
    for d in range(15):
        cells = [(y, d - y) for y in range(8) if 0 <= d - y < 8]
        if d % 2 == 0:
            cells.reverse()
        order.extend(y * 8 + x for y, x in cells)
    return np.array(order, dtype=np.int64)


ZIGZAG = _make_zigzag()

# Annex K.1 quantization tables, natural (row-major) order
QUANT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int64)
QUANT_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int64)

# Annex K.3 typical Huffman tables: (bits[1..16] code counts, symbol values)
DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_LUMA_VALS = list(range(12))
DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_CHROMA_VALS = list(range(12))
AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_LUMA_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]
AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
AC_CHROMA_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
    0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
    0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
    0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
    0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
    0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
    0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
    0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
    0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
    0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
    0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]

# Orthonormal 8-point DCT-II basis: C @ C.T == I, so FDCT = C f C^T and
# IDCT = C^T F C — exact float transforms, batched as matmuls over all blocks.
_k = np.arange(8)
DCT_BASIS = np.cos((2 * _k[None, :] + 1) * _k[:, None] * np.pi / 16) * np.sqrt(0.25)
DCT_BASIS[0, :] *= np.sqrt(0.5)
del _k


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) per the canonical construction (T.81 C.2)."""
    if len(bits) != 16 or sum(bits) != len(vals):
        raise ValueError("malformed Huffman table spec")
    out: dict[int, tuple[int, int]] = {}
    code = 0
    i = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            if code >> length:
                raise ValueError("Huffman code overflow (corrupt table)")
            out[vals[i]] = (code, length)
            code += 1
            i += 1
        code <<= 1
    return out


def _decode_table(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """(length, code) -> symbol, for the sequential decode loop."""
    return {(ln, code): sym for sym, (code, ln) in _canonical_codes(bits, vals).items()}


def _extend(v: int, s: int) -> int:
    """T.81 F.2.2.1 EXTEND: map an s-bit magnitude to its signed value."""
    return v - (1 << s) + 1 if s and v < (1 << (s - 1)) else v


# --------------------------------------------------------------------------
# Decoder
# --------------------------------------------------------------------------

class _BitReader:
    """MSB-first bit reader over already-unstuffed entropy bytes."""

    __slots__ = ("data", "pos", "bit")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.bit = 0

    def read_bit(self) -> int:
        if self.pos >= len(self.data):
            raise ValueError("truncated JPEG entropy data")
        b = (self.data[self.pos] >> (7 - self.bit)) & 1
        self.bit += 1
        if self.bit == 8:
            self.bit = 0
            self.pos += 1
        return b

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def read_huff(self, table: dict[tuple[int, int], int]) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.read_bit()
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman code in JPEG stream")


def _split_scan(payload: bytes, start: int) -> tuple[list[bytes], int]:
    """Unstuff the entropy-coded scan starting at ``start``; segments split at
    RST markers. Returns (segments, index of the terminating marker's 0xFF)."""
    segs: list[bytearray] = [bytearray()]
    i = start
    n = len(payload)
    while i < n:
        b = payload[i]
        if b != 0xFF:
            segs[-1].append(b)
            i += 1
            continue
        # 0xFF: stuffed zero, fill byte, RST, or a real marker ending the scan
        j = i + 1
        while j < n and payload[j] == 0xFF:  # fill bytes
            j += 1
        if j >= n:
            break
        m = payload[j]
        if m == 0x00:
            segs[-1].append(0xFF)
            i = j + 1
        elif 0xD0 <= m <= 0xD7:  # RSTn
            segs.append(bytearray())
            i = j + 1
        else:
            return [bytes(s) for s in segs], i
    return [bytes(s) for s in segs], n


def _parse_segments(payload: bytes):
    """Yield (marker, data, scan_segments) tuples; scan_segments is non-None
    only for SOS."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (missing SOI)")
    i = 2
    n = len(payload)
    while i < n:
        if payload[i] != 0xFF:
            raise ValueError("JPEG marker desync")
        while i < n and payload[i] == 0xFF:
            i += 1
        if i >= n:
            return
        marker = payload[i]
        i += 1
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue  # standalone
        if marker == 0xD9:  # EOI
            return
        if i + 2 > n:
            raise ValueError("truncated JPEG marker segment")
        (length,) = struct.unpack(">H", payload[i : i + 2])
        if length < 2 or i + length > n:
            raise ValueError("truncated JPEG marker segment")
        data = payload[i + 2 : i + length]
        i += length
        if marker == 0xDA:  # SOS: entropy data follows until next real marker
            segs, i = _split_scan(payload, i)
            yield marker, data, segs
        else:
            yield marker, data, None


def _decode_block(
    reader: _BitReader,
    dc_tab: dict,
    ac_tab: dict,
    qt: np.ndarray,
    preds: list[int],
    ci: int,
) -> np.ndarray:
    """Decode one data unit: Huffman DC diff + AC run-lengths, dequantized,
    zigzag order. Mutates ``preds[ci]`` (the per-scan DC predictor)."""
    blk = np.zeros(64, dtype=np.float64)
    s = reader.read_huff(dc_tab)
    if s > 11:
        raise ValueError("invalid DC magnitude category")
    diff = _extend(reader.read_bits(s), s)
    preds[ci] += diff
    blk[0] = preds[ci] * qt[0]
    k = 1
    while k < 64:
        sym = reader.read_huff(ac_tab)
        r, s = sym >> 4, sym & 15
        if s == 0:
            if r == 15:  # ZRL: sixteen zeros
                k += 16
                continue
            break  # EOB
        k += r
        if k > 63:
            raise ValueError("AC coefficient index overflow")
        blk[k] = _extend(reader.read_bits(s), s) * qt[k]
        k += 1
    return blk


def _decode_scan(
    sel: dict[int, tuple[int, int]],
    segs: list[bytes],
    comps: list[tuple[int, int, int, int]],
    coef: list[np.ndarray],
    htables: dict,
    qtables: dict,
    dri: int,
    geom: tuple[int, int, int, int],
    w: int,
    h: int,
    covered: set[int],
) -> None:
    """Entropy-decode one scan into the per-component coefficient planes.

    Interleaved (ns > 1): MCU walk over the padded grid, hi x vi blocks per
    component per MCU. Non-interleaved (ns == 1, T.81 A.2.2): one data unit
    per MCU, raster order over the COMPONENT's own ceil'd block grid (not the
    MCU-padded grid) — this is how multi-scan sequential files and grayscale
    scans are coded. Restart intervals count MCUs in both cases."""
    hmax, vmax, mcus_x, mcus_y = geom
    scomps = [(ci, c) for ci, c in enumerate(comps) if c[0] in sel]
    if len(scomps) != len(sel):
        raise ValueError("SOS references a component not in the frame")
    tabs = {}
    for ci, (cid, hi, vi, tq) in scomps:
        if cid in covered:
            raise ValueError(f"component {cid} coded by more than one scan")
        covered.add(cid)
        if tq not in qtables:
            raise ValueError(f"missing quantization table {tq}")
        dc_id, ac_id = sel[cid]
        dc_tab = htables.get((0, dc_id))
        ac_tab = htables.get((1, ac_id))
        if dc_tab is None or ac_tab is None:
            raise ValueError("missing Huffman table referenced by scan")
        tabs[ci] = (dc_tab, ac_tab, qtables[tq])
    interleaved = len(scomps) > 1
    if interleaved:
        n_units = mcus_x * mcus_y
    else:
        ci0, (cid, hi, vi, tq) = scomps[0]
        bx_n = -(-(w * hi) // (hmax * 8))
        by_n = -(-(h * vi) // (vmax * 8))
        n_units = bx_n * by_n
    seg_idx = 0
    reader = _BitReader(segs[0])
    preds = [0] * len(comps)
    for unit in range(n_units):
        if dri and unit and unit % dri == 0:
            seg_idx += 1
            if seg_idx >= len(segs):
                raise ValueError("missing JPEG restart segment")
            reader = _BitReader(segs[seg_idx])
            preds = [0] * len(comps)
        if interleaved:
            my, mx = divmod(unit, mcus_x)
            for ci, (cid, hi, vi, tq) in scomps:
                dc_tab, ac_tab, qt = tabs[ci]
                for by in range(vi):
                    for bx in range(hi):
                        coef[ci][my * vi + by, mx * hi + bx] = _decode_block(
                            reader, dc_tab, ac_tab, qt, preds, ci
                        )
        else:
            dc_tab, ac_tab, qt = tabs[ci0]
            by, bx = divmod(unit, bx_n)
            coef[ci0][by, bx] = _decode_block(
                reader, dc_tab, ac_tab, qt, preds, ci0
            )


def decode_jpeg(payload: bytes) -> np.ndarray:
    """Baseline/extended-sequential Huffman JPEG -> (H, W, 3) uint8 RGB."""
    qtables: dict[int, np.ndarray] = {}  # id -> 64 ints, zigzag order
    htables: dict[tuple[int, int], dict] = {}  # (class, id) -> decode dict
    frame = None  # (h, w, comps); comps = [(cid, hi, vi, tq)]
    dri = 0
    coef: list[np.ndarray] | None = None
    geom: tuple[int, int, int, int] | None = None
    covered: set[int] = set()
    for marker, data, segs in _parse_segments(payload):
        if marker == 0xDB:  # DQT (possibly several tables per segment)
            k = 0
            while k < len(data):
                prec, tid = data[k] >> 4, data[k] & 15
                k += 1
                if prec == 0:
                    qtables[tid] = np.frombuffer(
                        data[k : k + 64], dtype=np.uint8
                    ).astype(np.int64)
                    k += 64
                else:
                    qtables[tid] = np.frombuffer(
                        data[k : k + 128], dtype=">u2"
                    ).astype(np.int64)
                    k += 128
                if qtables[tid].size != 64:
                    raise ValueError("truncated DQT")
        elif marker == 0xC4:  # DHT (possibly several tables per segment)
            k = 0
            while k < len(data):
                if k + 17 > len(data):
                    raise ValueError("truncated DHT")
                cls, tid = data[k] >> 4, data[k] & 15
                bits = list(data[k + 1 : k + 17])
                nval = sum(bits)
                vals = list(data[k + 17 : k + 17 + nval])
                if len(vals) != nval:
                    raise ValueError("truncated DHT")
                htables[(cls, tid)] = _decode_table(bits, vals)
                k += 17 + nval
        elif marker in (0xC0, 0xC1):  # SOF0 baseline / SOF1 extended sequential
            if len(data) < 6:
                raise ValueError("truncated SOF")
            prec, h, w, nc = struct.unpack(">BHHB", data[:6])
            if prec != 8:
                raise ValueError(f"only 8-bit JPEG supported, got {prec}")
            if h <= 0 or w <= 0:
                raise ValueError(f"invalid JPEG dimensions {w}x{h}")
            if w * h > MAX_PIXELS:
                raise ValueError(
                    f"JPEG header claims {w * h} pixels (> MAX_PIXELS={MAX_PIXELS})"
                )
            if len(data) < 6 + 3 * nc:
                raise ValueError("truncated SOF")
            comps = []
            for c in range(nc):
                cid, samp, tq = data[6 + 3 * c : 9 + 3 * c]
                hi, vi = samp >> 4, samp & 15
                if not (1 <= hi <= 4 and 1 <= vi <= 4):
                    raise ValueError(f"bad sampling factors {hi}x{vi}")
                comps.append((cid, hi, vi, tq))
            if nc not in (1, 3):
                raise ValueError(f"unsupported component count {nc}")
            if nc == 1:
                # T.81 A.2.2: a single-component scan is NON-interleaved —
                # data units in raster order of the full-resolution block
                # grid, MCU = 1 data unit (restart intervals count likewise).
                # Declared sampling factors affect only multi-component
                # geometry, so normalize them away here; without this a
                # grayscale file declaring 2x2 factors (encoders often keep
                # luma factors when dropping chroma) decodes block-scrambled.
                cid, _, _, tq = comps[0]
                comps = [(cid, 1, 1, tq)]
            frame = (h, w, comps)
        elif marker == 0xC2:
            raise ValueError("progressive JPEG not supported by pure codec")
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError("unsupported JPEG coding process")
        elif marker == 0xDD:  # DRI
            if len(data) < 2:
                raise ValueError("truncated DRI")
            (dri,) = struct.unpack(">H", data[:2])
        elif marker == 0xDA:  # SOS (possibly one of several sequential scans)
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            if not data or len(data) < 1 + 2 * data[0]:
                raise ValueError("truncated SOS")
            ns = data[0]
            sel = {}
            for c in range(ns):
                cid, tabs = data[1 + 2 * c : 3 + 2 * c]
                sel[cid] = (tabs >> 4, tabs & 15)
            h, w, comps = frame
            if coef is None:
                hmax = max(c[1] for c in comps)
                vmax = max(c[2] for c in comps)
                mcus_x = -(-w // (8 * hmax))
                mcus_y = -(-h // (8 * vmax))
                geom = (hmax, vmax, mcus_x, mcus_y)
                # float32 throughout the decode: halves the dominant working
                # set and is exact for 8-bit output (IDCT error << 0.5)
                coef = [
                    np.zeros((mcus_y * vi, mcus_x * hi, 64), dtype=np.float32)
                    for cid, hi, vi, tq in comps
                ]
            _decode_scan(
                sel, segs, comps, coef, htables, qtables, dri, geom, w, h, covered
            )
    if frame is None or coef is None or geom is None:
        raise ValueError("JPEG missing SOF/SOS")

    h, w, comps = frame
    hmax, vmax, mcus_x, mcus_y = geom
    missing = [c[0] for c in comps if c[0] not in covered]
    if missing:
        raise ValueError(f"scan(s) do not cover component(s) {missing}")
    # batched IDCT + reassemble planes
    basis32 = DCT_BASIS.astype(np.float32)
    planes = []
    while coef:
        ci = len(planes)
        cid, hi, vi, tq = comps[ci]
        c = coef.pop(0)  # release each coefficient plane as it is consumed
        by, bx = c.shape[:2]
        nat = np.zeros((by * bx, 64), dtype=np.float32)
        nat[:, ZIGZAG] = c.reshape(by * bx, 64)
        del c
        blocks = nat.reshape(by * bx, 8, 8)
        pix = basis32.T @ blocks @ basis32 + np.float32(128.0)
        del nat, blocks
        plane = (
            pix.reshape(by, bx, 8, 8).transpose(0, 2, 1, 3).reshape(by * 8, bx * 8)
        )
        # upsample straight to (h, w) by nearest-neighbor index mapping:
        # output pixel (y, x) reads component sample (y*vi//vmax, x*hi//hmax).
        # For divisor ratios (4:2:0 etc.) this is exactly pixel replication;
        # unlike integer-floor np.repeat it is also correct for legal
        # non-divisor factors (e.g. Y=3x1 with Cb=2x1), which floor repeat
        # would crash on or silently misplace.
        if vi != vmax or hi != hmax:
            ry = (np.arange(h) * vi) // vmax
            rx = (np.arange(w) * hi) // hmax
            planes.append(plane[ry][:, rx])
        else:
            planes.append(plane[:h, :w])

    if len(planes) == 1:
        y = np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
        return np.repeat(y[:, :, None], 3, axis=2)
    y, cb, cr = planes
    cb -= np.float32(128.0)
    cr -= np.float32(128.0)
    r = y + np.float32(1.402) * cr
    g = y - np.float32(0.344136) * cb - np.float32(0.714136) * cr
    b = y + np.float32(1.772) * cb
    return np.clip(np.round(np.stack([r, g, b], axis=2)), 0, 255).astype(np.uint8)


# --------------------------------------------------------------------------
# Encoder (tests' fixture generator; baseline, Annex K tables)
# --------------------------------------------------------------------------

class _BitWriter:
    """MSB-first bit writer with 0xFF byte stuffing (T.81 B.1.1.5)."""

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            b = (self.acc >> (self.nbits - 8)) & 0xFF
            self.nbits -= 8
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)
        self.acc &= (1 << self.nbits) - 1

    def byte_align(self) -> None:
        if self.nbits:
            self.write(0x7F, 8 - self.nbits)  # pad with 1-bits


def _scaled_qtable(base: np.ndarray, quality: int) -> np.ndarray:
    """IJG quality scaling: 1..100 -> scaled Annex K table (natural order)."""
    if not 1 <= quality <= 100:
        raise ValueError("quality must be in [1, 100]")
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    return np.clip((base * scale + 50) // 100, 1, 255).astype(np.int64)


def _fdct_quant(plane: np.ndarray, qt_zz: np.ndarray) -> np.ndarray:
    """(H8, W8) float plane -> (by, bx, 64) quantized zigzag coefficients."""
    h8, w8 = plane.shape
    by, bx = h8 // 8, w8 // 8
    blocks = (
        plane.reshape(by, 8, bx, 8).transpose(0, 2, 1, 3).reshape(by * bx, 8, 8)
        - 128.0
    )
    coef = DCT_BASIS @ blocks @ DCT_BASIS.T
    zz = coef.reshape(by * bx, 64)[:, ZIGZAG]
    q = np.round(zz / qt_zz[None, :]).astype(np.int64)
    return q.reshape(by, bx, 64)


def _encode_block(
    wr: _BitWriter, blk: np.ndarray, pred: int,
    dc_codes: dict, ac_codes: dict,
) -> int:
    """Huffman-encode one quantized zigzag block; returns the new DC pred."""
    dc = int(blk[0])
    diff = dc - pred
    mag = abs(diff)
    s = mag.bit_length()
    code, ln = dc_codes[s]
    wr.write(code, ln)
    if s:
        wr.write(diff if diff >= 0 else diff + (1 << s) - 1, s)
    run = 0
    last = 63
    while last > 0 and blk[last] == 0:
        last -= 1
    for k in range(1, last + 1):
        v = int(blk[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            zcode, zln = ac_codes[0xF0]
            wr.write(zcode, zln)
            run -= 16
        s = abs(v).bit_length()
        code, ln = ac_codes[(run << 4) | s]
        wr.write(code, ln)
        wr.write(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
    if last < 63:
        code, ln = ac_codes[0x00]  # EOB
        wr.write(code, ln)
    return dc


def _pad_to(plane: np.ndarray, mult: int) -> np.ndarray:
    h, w = plane.shape
    ph = (-h) % mult
    pw = (-w) % mult
    if ph or pw:
        plane = np.pad(plane, ((0, ph), (0, pw)), mode="edge")
    return plane


def encode_jpeg(
    img: np.ndarray,
    quality: int = 90,
    subsample: bool = False,
    restart_interval: int = 0,
) -> bytes:
    """(H, W, 3) RGB or (H, W) gray uint8 -> baseline JFIF bytes.

    ``subsample=True`` writes 4:2:0 (2x2 box-averaged chroma); otherwise 4:4:4.
    ``restart_interval`` > 0 emits DRI + RSTn markers every that many MCUs.
    """
    img = np.asarray(img, dtype=np.uint8)
    gray = img.ndim == 2
    if not gray and (img.ndim != 3 or img.shape[2] != 3):
        raise ValueError("expected (H, W) or (H, W, 3) uint8")
    h, w = img.shape[:2]
    if h < 1 or w < 1:
        raise ValueError("empty image")

    qt_l = _scaled_qtable(QUANT_LUMA, quality)
    qt_c = _scaled_qtable(QUANT_CHROMA, quality)
    qt_l_zz = qt_l[ZIGZAG]
    qt_c_zz = qt_c[ZIGZAG]

    if gray:
        y = img.astype(np.float64)
        planes = [(_pad_to(y, 8), qt_l_zz)]
        samps = [(1, 1)]
    else:
        rgb = img.astype(np.float64)
        r, g, b = rgb[:, :, 0], rgb[:, :, 1], rgb[:, :, 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
        cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
        if subsample:
            ype = _pad_to(y, 16)
            cbp = _pad_to(cb, 2)
            crp = _pad_to(cr, 2)
            cb2 = _pad_to(
                (cbp[0::2, 0::2] + cbp[0::2, 1::2] + cbp[1::2, 0::2]
                 + cbp[1::2, 1::2]) / 4.0, 8,
            )
            cr2 = _pad_to(
                (crp[0::2, 0::2] + crp[0::2, 1::2] + crp[1::2, 0::2]
                 + crp[1::2, 1::2]) / 4.0, 8,
            )
            # chroma planes must tile the same MCU grid as the padded Y plane
            cb2 = cb2[: ype.shape[0] // 2, : ype.shape[1] // 2]
            cr2 = cr2[: ype.shape[0] // 2, : ype.shape[1] // 2]
            planes = [(ype, qt_l_zz), (cb2, qt_c_zz), (cr2, qt_c_zz)]
            samps = [(2, 2), (1, 1), (1, 1)]
        else:
            planes = [
                (_pad_to(y, 8), qt_l_zz),
                (_pad_to(cb, 8), qt_c_zz),
                (_pad_to(cr, 8), qt_c_zz),
            ]
            samps = [(1, 1), (1, 1), (1, 1)]

    quant = [_fdct_quant(p, qzz) for p, qzz in planes]

    dc_l = _canonical_codes(DC_LUMA_BITS, DC_LUMA_VALS)
    ac_l = _canonical_codes(AC_LUMA_BITS, AC_LUMA_VALS)
    dc_c = _canonical_codes(DC_CHROMA_BITS, DC_CHROMA_VALS)
    ac_c = _canonical_codes(AC_CHROMA_BITS, AC_CHROMA_VALS)
    tabs = [(dc_l, ac_l)] + [(dc_c, ac_c)] * (len(planes) - 1)

    hmax = max(s[0] for s in samps)
    vmax = max(s[1] for s in samps)
    mcus_x = planes[0][0].shape[1] // (8 * samps[0][0])
    mcus_y = planes[0][0].shape[0] // (8 * samps[0][1])

    wr = _BitWriter()
    preds = [0] * len(planes)
    n_mcus = mcus_x * mcus_y
    rst = 0
    for mcu in range(n_mcus):
        if restart_interval and mcu and mcu % restart_interval == 0:
            wr.byte_align()
            wr.out.extend(bytes([0xFF, 0xD0 + rst]))
            rst = (rst + 1) % 8
            preds = [0] * len(planes)
        my, mx = divmod(mcu, mcus_x)
        for ci, (hi, vi) in enumerate(samps):
            dc_codes, ac_codes = tabs[ci]
            for by in range(vi):
                for bx in range(hi):
                    blk = quant[ci][my * vi + by, mx * hi + bx]
                    preds[ci] = _encode_block(wr, blk, preds[ci], dc_codes, ac_codes)
    wr.byte_align()

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    out = bytearray(b"\xff\xd8")  # SOI
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")  # APP0
    out += seg(0xDB, bytes([0x00]) + bytes(qt_l[ZIGZAG].astype(np.uint8)))
    if not gray:
        out += seg(0xDB, bytes([0x01]) + bytes(qt_c[ZIGZAG].astype(np.uint8)))
    ncomp = 1 if gray else 3
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for ci in range(ncomp):
        hi, vi = samps[ci]
        sof += bytes([ci + 1, (hi << 4) | vi, 0 if ci == 0 else 1])
    out += seg(0xC0, sof)

    def dht(cls: int, tid: int, bits: list[int], vals: list[int]) -> bytes:
        return seg(0xC4, bytes([(cls << 4) | tid]) + bytes(bits) + bytes(vals))

    out += dht(0, 0, DC_LUMA_BITS, DC_LUMA_VALS)
    out += dht(1, 0, AC_LUMA_BITS, AC_LUMA_VALS)
    if not gray:
        out += dht(0, 1, DC_CHROMA_BITS, DC_CHROMA_VALS)
        out += dht(1, 1, AC_CHROMA_BITS, AC_CHROMA_VALS)
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytes([ncomp])
    for ci in range(ncomp):
        sos += bytes([ci + 1, 0x00 if ci == 0 else 0x11])
    sos += bytes([0, 63, 0])
    out += seg(0xDA, sos)
    out += wr.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)
