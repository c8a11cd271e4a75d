"""Baseline JPEG codec: round-trips through real marker/Huffman/DCT bytes,
spec-structural invariants that catch constant typos a self-consistent
encode/decode pair alone cannot, and adversarial-header rejection.

No Spark session needed — pure numpy; the executor-side path is the
``multimodal_phash_groups`` registry row, hash-checked against its oracle.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from cqaduplicatefind_spark.functions.jpegcodec import (
    AC_CHROMA_BITS,
    AC_CHROMA_VALS,
    AC_LUMA_BITS,
    AC_LUMA_VALS,
    DC_CHROMA_BITS,
    DC_CHROMA_VALS,
    DC_LUMA_BITS,
    DC_LUMA_VALS,
    DCT_BASIS,
    MAX_PIXELS,
    ZIGZAG,
    _canonical_codes,
    decode_jpeg,
    encode_jpeg,
)


def _smooth_rgb(h: int, w: int) -> np.ndarray:
    """Low-frequency test image: quantization error stays near the table step."""
    yy, xx = np.mgrid[0:h, 0:w]
    return (
        np.stack(
            [
                xx * 255.0 / max(1, w - 1),
                yy * 255.0 / max(1, h - 1),
                128 + 100 * np.sin(xx / 9.0) * np.cos(yy / 7.0),
            ],
            axis=2,
        )
        .clip(0, 255)
        .astype(np.uint8)
    )


# --------------------------------------------------------------------------
# Spec-structural invariants (catch typos in the Annex K constants that a
# self-consistent encoder/decoder pair would round-trip right through)
# --------------------------------------------------------------------------

def test_zigzag_matches_spec_landmarks():
    """First diagonals and the corners of the canonical zigzag scan."""
    assert ZIGZAG[:10].tolist() == [0, 1, 8, 16, 9, 2, 3, 10, 17, 24]
    assert ZIGZAG[63] == 63
    assert sorted(ZIGZAG.tolist()) == list(range(64))  # a permutation


def test_dct_basis_orthonormal_and_dc_scaling():
    assert np.allclose(DCT_BASIS @ DCT_BASIS.T, np.eye(8), atol=1e-12)
    # FDCT of a constant block has only the DC term, valued 8*c
    blk = np.full((8, 8), 3.0)
    coef = DCT_BASIS @ blk @ DCT_BASIS.T
    assert abs(coef[0, 0] - 24.0) < 1e-9
    assert np.abs(coef).sum() - abs(coef[0, 0]) < 1e-9


def test_huffman_tables_complete_and_prefix_free():
    """The Annex K AC alphabets must be exactly {(run,size): size 1..10} plus
    EOB and ZRL — 162 symbols; DC alphabets exactly categories 0..11. The
    canonical construction must never overflow a code length (prefix-freeness
    is implied by construction + no-overflow)."""
    expected_ac = {(r << 4) | s for r in range(16) for s in range(1, 11)}
    expected_ac |= {0x00, 0xF0}
    for bits, vals in [(AC_LUMA_BITS, AC_LUMA_VALS), (AC_CHROMA_BITS, AC_CHROMA_VALS)]:
        assert sum(bits) == len(vals) == 162
        assert set(vals) == expected_ac
        codes = _canonical_codes(bits, vals)  # raises on overflow
        assert len(codes) == 162
    for bits, vals in [(DC_LUMA_BITS, DC_LUMA_VALS), (DC_CHROMA_BITS, DC_CHROMA_VALS)]:
        assert sum(bits) == len(vals) == 12
        assert vals == list(range(12))
        assert len(_canonical_codes(bits, vals)) == 12


# --------------------------------------------------------------------------
# Round trips
# --------------------------------------------------------------------------

def test_round_trip_444_high_quality():
    img = _smooth_rgb(48, 64)
    dec = decode_jpeg(encode_jpeg(img, quality=97))
    assert dec.shape == (48, 64, 3) and dec.dtype == np.uint8
    err = np.abs(dec.astype(int) - img.astype(int))
    assert err.max() <= 8 and err.mean() < 1.5


def test_round_trip_420_subsampled():
    """4:2:0 halves the chroma planes; on chroma-smooth content the error
    stays near the 4:4:4 bound, and the decoder's upsample restores shape."""
    img = _smooth_rgb(40, 56)
    dec = decode_jpeg(encode_jpeg(img, quality=97, subsample=True))
    assert dec.shape == (40, 56, 3)
    err = np.abs(dec.astype(int) - img.astype(int))
    assert err.max() <= 20 and err.mean() < 4.0


def test_round_trip_gray_single_component():
    g = (np.mgrid[0:16, 0:24][1] * 255 / 23).astype(np.uint8)
    dec = decode_jpeg(encode_jpeg(g, quality=95))
    assert dec.shape == (16, 24, 3)
    assert (dec[:, :, 0] == dec[:, :, 1]).all() and (dec[:, :, 1] == dec[:, :, 2]).all()
    assert np.abs(dec[:, :, 0].astype(int) - g.astype(int)).max() <= 3


@pytest.mark.parametrize("h,w", [(19, 13), (1, 1), (7, 23), (17, 32)])
@pytest.mark.parametrize("subsample", [False, True])
def test_round_trip_odd_dimensions(h, w, subsample):
    """Dims not multiples of the MCU size exercise edge padding on encode and
    cropping on decode — the output shape must be exact either way."""
    rng = np.random.Generator(np.random.PCG64(h * 100 + w))
    img = (rng.integers(0, 256, size=(h, w, 3)).astype(float) * 0.2 + 110).astype(
        np.uint8
    )
    dec = decode_jpeg(encode_jpeg(img, quality=97, subsample=subsample))
    assert dec.shape == (h, w, 3)
    tol = 50 if subsample else 12  # 4:2:0 chroma box-averaging is lossy on noise
    assert np.abs(dec.astype(int) - img.astype(int)).max() <= tol


def test_restart_markers_decode_identically():
    """DRI/RSTn segmentation must reproduce the no-restart decode bit for bit:
    restarts change entropy framing, not pixels."""
    img = _smooth_rgb(32, 48)
    base = decode_jpeg(encode_jpeg(img, quality=90))
    for dri in (1, 2, 5):
        for sub in (False, True):
            withr = decode_jpeg(
                encode_jpeg(img, quality=90, subsample=sub, restart_interval=dri)
            )
            plain = decode_jpeg(encode_jpeg(img, quality=90, subsample=sub))
            assert np.array_equal(withr, plain), (dri, sub)
    assert np.abs(base.astype(int) - img.astype(int)).max() <= 12


def test_byte_stuffing_exercised():
    """A busy image at moderate quality produces 0xFF entropy bytes; the
    encoder must stuff them (FF 00) and the decoder must unstuff — verified by
    the round trip AND by the stuffed sequence actually appearing."""
    rng = np.random.Generator(np.random.PCG64(42))
    img = rng.integers(0, 256, size=(64, 64, 3), dtype=np.uint8)
    enc = encode_jpeg(img, quality=85)
    assert b"\xff\x00" in enc  # stuffing actually happened
    dec = decode_jpeg(enc)
    assert dec.shape == (64, 64, 3)  # and survived the trip


# --------------------------------------------------------------------------
# Adversarial / out-of-scope payloads (crawl bytes are untrusted)
# --------------------------------------------------------------------------

def test_truncated_payloads_raise():
    enc = encode_jpeg(_smooth_rgb(16, 16), quality=90)
    for cut in (4, len(enc) // 2, len(enc) - 6):
        with pytest.raises(ValueError):
            decode_jpeg(enc[:cut])


def test_pixel_bomb_rejected_before_allocation():
    """A lying SOF (60000x60000) must fail on MAX_PIXELS, not allocate 10 GB."""
    enc = bytearray(encode_jpeg(_smooth_rgb(16, 16), quality=90))
    i = enc.index(b"\xff\xc0")
    struct.pack_into(">HH", enc, i + 5, 60000, 60000)
    with pytest.raises(ValueError, match="MAX_PIXELS"):
        decode_jpeg(bytes(enc))
    assert 60000 * 60000 > MAX_PIXELS


def test_progressive_and_foreign_payloads_rejected():
    enc = bytearray(encode_jpeg(_smooth_rgb(16, 16), quality=90))
    i = enc.index(b"\xff\xc0")
    enc[i + 1] = 0xC2
    with pytest.raises(ValueError, match="progressive"):
        decode_jpeg(bytes(enc))
    with pytest.raises(ValueError, match="SOI"):
        decode_jpeg(b"not a jpeg at all")


def test_grayscale_sampling_factors_decode_raster_order():
    """T.81 A.2.2: a single-component scan is non-interleaved — data units in
    raster order, regardless of declared sampling factors. Encoders often keep
    the 2x2 luma factors when dropping chroma; those files must decode to the
    SAME pixels as a 1x1 declaration, not block-scrambled."""
    g = (np.mgrid[0:24, 0:40][0] * 9 + np.mgrid[0:24, 0:40][1] * 3).astype(np.uint8)
    enc = bytearray(encode_jpeg(g, quality=95))
    base = decode_jpeg(bytes(enc))
    i = enc.index(b"\xff\xc0")
    assert enc[i + 11] == 0x11  # sanity: encoder wrote 1x1 factors
    enc[i + 11] = 0x22  # declare 2x2 — stream stays raster-ordered
    assert np.array_equal(decode_jpeg(bytes(enc)), base)


def test_lying_segment_lengths_raise_valueerror():
    """Truncated SOF/DRI/SOS bodies must raise ValueError (the documented
    fallback contract), never struct.error/IndexError."""
    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    with pytest.raises(ValueError, match="truncated SOF"):
        decode_jpeg(b"\xff\xd8" + seg(0xC0, b"\x08\x00"))
    with pytest.raises(ValueError, match="truncated DRI"):
        decode_jpeg(b"\xff\xd8" + seg(0xDD, b"\x01"))
    enc = encode_jpeg(_smooth_rgb(8, 8), quality=90)
    i = enc.index(b"\xff\xda")
    with pytest.raises(ValueError, match="truncated SOS"):
        decode_jpeg(enc[:i] + seg(0xDA, b""))
    with pytest.raises(ValueError, match="truncated DHT"):
        decode_jpeg(b"\xff\xd8" + seg(0xC4, b"\x00" + b"\x01" * 16))


# --------------------------------------------------------------------------
# Multi-scan sequential files (T.81 A.2.2) and general sampling geometry.
# The public encoder emits only interleaved single-scan streams, so these
# fixtures are hand-assembled from the encoder's own block/Huffman helpers —
# the tests pin the DECODER's scan walk, not a reimplemented coefficient path.
# --------------------------------------------------------------------------

from cqaduplicatefind_spark.functions.jpegcodec import (  # noqa: E402
    QUANT_CHROMA,
    QUANT_LUMA,
    _BitWriter,
    _encode_block,
    _fdct_quant,
    _pad_to,
    _scaled_qtable,
)


def _ycc(img: np.ndarray):
    rgb = img.astype(np.float64)
    r, g, b = rgb[:, :, 0], rgb[:, :, 1], rgb[:, :, 2]
    return (
        0.299 * r + 0.587 * g + 0.114 * b,
        128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b,
        128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b,
    )


def _assemble_jpeg(h, w, comps, scans, restart_interval=0):
    """``comps``: list of (plane float64 with dims divisible by 8, (hi, vi),
    chroma_tables: bool). ``scans``: list of component-index lists — each
    becomes one SOS, coded interleaved (MCU walk) when it names more than one
    component and non-interleaved (raster over the component's own ceil'd
    block grid) otherwise."""
    qt_l = _scaled_qtable(QUANT_LUMA, 90)
    qt_c = _scaled_qtable(QUANT_CHROMA, 90)
    samps = [s for _, s, _ in comps]
    quant = [
        _fdct_quant(plane, (qt_c if chroma else qt_l)[ZIGZAG])
        for plane, _, chroma in comps
    ]
    hmax = max(s[0] for s in samps)
    vmax = max(s[1] for s in samps)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    tables = [
        (_canonical_codes(DC_LUMA_BITS, DC_LUMA_VALS),
         _canonical_codes(AC_LUMA_BITS, AC_LUMA_VALS)),
        (_canonical_codes(DC_CHROMA_BITS, DC_CHROMA_VALS),
         _canonical_codes(AC_CHROMA_BITS, AC_CHROMA_VALS)),
    ]

    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    out = bytearray(b"\xff\xd8")
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xDB, bytes([0x00]) + bytes(qt_l[ZIGZAG].astype(np.uint8)))
    out += seg(0xDB, bytes([0x01]) + bytes(qt_c[ZIGZAG].astype(np.uint8)))
    sof = struct.pack(">BHHB", 8, h, w, len(comps))
    for ci, ((hi, vi), (_, _, chroma)) in enumerate(zip(samps, comps)):
        sof += bytes([ci + 1, (hi << 4) | vi, 1 if chroma else 0])
    out += seg(0xC0, sof)
    out += seg(0xC4, bytes([0x00]) + bytes(DC_LUMA_BITS) + bytes(DC_LUMA_VALS))
    out += seg(0xC4, bytes([0x10]) + bytes(AC_LUMA_BITS) + bytes(AC_LUMA_VALS))
    out += seg(0xC4, bytes([0x01]) + bytes(DC_CHROMA_BITS) + bytes(DC_CHROMA_VALS))
    out += seg(0xC4, bytes([0x11]) + bytes(AC_CHROMA_BITS) + bytes(AC_CHROMA_VALS))
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    for scan in scans:
        sos = bytes([len(scan)])
        for ci in scan:
            t = 1 if comps[ci][2] else 0
            sos += bytes([ci + 1, (t << 4) | t])
        sos += bytes([0, 63, 0])
        out += seg(0xDA, sos)
        wr = _BitWriter()
        preds = [0] * len(comps)
        rst = 0
        if len(scan) > 1:
            n_units = mcus_x * mcus_y
        else:
            hi0, vi0 = samps[scan[0]]
            bx_n = -(-(w * hi0) // (hmax * 8))
            by_n = -(-(h * vi0) // (vmax * 8))
            n_units = bx_n * by_n
        for unit in range(n_units):
            if restart_interval and unit and unit % restart_interval == 0:
                wr.byte_align()
                wr.out.extend(bytes([0xFF, 0xD0 + rst]))
                rst = (rst + 1) % 8
                preds = [0] * len(comps)
            if len(scan) > 1:
                my, mx = divmod(unit, mcus_x)
                for ci in scan:
                    hi, vi = samps[ci]
                    dc_codes, ac_codes = tables[1 if comps[ci][2] else 0]
                    for by in range(vi):
                        for bx in range(hi):
                            preds[ci] = _encode_block(
                                wr, quant[ci][my * vi + by, mx * hi + bx],
                                preds[ci], dc_codes, ac_codes,
                            )
            else:
                ci = scan[0]
                by, bx = divmod(unit, bx_n)
                dc_codes, ac_codes = tables[1 if comps[ci][2] else 0]
                preds[ci] = _encode_block(
                    wr, quant[ci][by, bx], preds[ci], dc_codes, ac_codes,
                )
        wr.byte_align()
        out += wr.out
    out += b"\xff\xd9"
    return bytes(out)


def test_multi_scan_sequential_equals_single_scan_444():
    img = _smooth_rgb(37, 45)
    h, w = img.shape[:2]
    y, cb, cr = _ycc(img)
    comps = [
        (_pad_to(y, 8), (1, 1), False),
        (_pad_to(cb, 8), (1, 1), True),
        (_pad_to(cr, 8), (1, 1), True),
    ]
    single = _assemble_jpeg(h, w, comps, [[0, 1, 2]])
    multi = _assemble_jpeg(h, w, comps, [[0], [1], [2]])
    ref = decode_jpeg(single)
    assert np.array_equal(decode_jpeg(multi), ref)
    # the assembler itself agrees with the public encoder on the same input
    assert np.array_equal(ref, decode_jpeg(encode_jpeg(img, quality=90)))


def test_multi_scan_sequential_420_with_restarts():
    """Subsampled multi-scan: each scan rasters its COMPONENT's ceil'd block
    grid (not the MCU-padded grid) and restart intervals count data units."""
    img = _smooth_rgb(24, 40)  # Y: 3x5 coded blocks vs 4x6 MCU-padded
    h, w = img.shape[:2]
    y, cb, cr = _ycc(img)
    ype = _pad_to(y, 16)
    cbp, crp = _pad_to(cb, 2), _pad_to(cr, 2)

    def box2(p):
        return _pad_to(
            (p[0::2, 0::2] + p[0::2, 1::2] + p[1::2, 0::2] + p[1::2, 1::2]) / 4.0,
            8,
        )[: ype.shape[0] // 2, : ype.shape[1] // 2]

    comps = [
        (ype, (2, 2), False),
        (box2(cbp), (1, 1), True),
        (box2(crp), (1, 1), True),
    ]
    single = _assemble_jpeg(h, w, comps, [[0, 1, 2]])
    multi = _assemble_jpeg(h, w, comps, [[0], [1], [2]], restart_interval=2)
    assert np.array_equal(decode_jpeg(multi), decode_jpeg(single))
    assert np.array_equal(
        decode_jpeg(single),
        decode_jpeg(encode_jpeg(img, quality=90, subsample=True)),
    )


def test_multi_scan_rejects_double_coded_component():
    img = _smooth_rgb(16, 16)
    y, cb, cr = _ycc(img)
    comps = [
        (_pad_to(y, 8), (1, 1), False),
        (_pad_to(cb, 8), (1, 1), True),
        (_pad_to(cr, 8), (1, 1), True),
    ]
    dup = _assemble_jpeg(16, 16, comps, [[0], [1], [0]])
    with pytest.raises(ValueError, match="more than one scan"):
        decode_jpeg(dup)
    partial = _assemble_jpeg(16, 16, comps, [[0], [1]])
    with pytest.raises(ValueError, match="do not cover"):
        decode_jpeg(partial)


def test_non_divisor_sampling_factors_decode():
    """Y=3x1 / Cb=2x1 / Cr=1x1 — legal per T.81 but the chroma upsample is a
    fractional 3/2 ratio that integer pixel replication cannot express; the
    index-mapped nearest-neighbor upsample must place the Cb step at
    output x = 24 (smallest x with (x*2)//3 >= 16)."""
    h, w = 16, 48
    # constant everything except a block-aligned step in the Cb plane
    y_plane = np.full((16, 48), 128.0)
    cb_plane = np.full((16, 32), 64.0)
    cb_plane[:, 16:] = 192.0
    cr_plane = np.full((16, 16), 128.0)
    comps = [
        (y_plane, (3, 1), False),
        (cb_plane, (2, 1), True),
        (cr_plane, (1, 1), True),
    ]
    out = decode_jpeg(_assemble_jpeg(h, w, comps, [[0, 1, 2]]))
    assert out.shape == (h, w, 3)
    # red is untouched by Cb; Cr constant at 128 contributes nothing
    assert np.abs(out[:, :, 0].astype(int) - 128).max() <= 2
    # blue = y + 1.772*(cb-128): ~14.6 left of the step, ~241.4 right of it
    assert np.abs(out[:, :24, 2].astype(int) - 15).max() <= 3
    assert np.abs(out[:, 24:, 2].astype(int) - 241).max() <= 3
