"""MJPEG-in-AVI codec: container round-trip, untrusted-byte bounds, frame
sampling, and the perceptual hashes the ``multimodal_phash_groups`` and
``multimodal_video_dedup`` registry rows run."""

import struct

import numpy as np
import pytest

from cqaduplicatefind_spark.functions import videocodec
from cqaduplicatefind_spark.functions.jpegcodec import decode_jpeg, encode_jpeg
from cqaduplicatefind_spark.functions.videocodec import (
    ahash64,
    encode_avi_mjpeg,
    is_avi,
    mjpeg_frame_index,
    sample_frame_indices,
    video_simhash,
)


def _gradient_frames(n=6, h=24, w=32, phase=0):
    """Smooth per-frame-distinct gradients (JPEG-friendly, deterministic)."""
    y, x = np.mgrid[0:h, 0:w]
    return [
        np.stack(
            [(y * 4 + (t + phase) * 24) % 256, (x * 3 + t * 5) % 256,
             ((x + y) * 2) % 256],
            axis=2,
        ).astype(np.uint8)
        for t in range(n)
    ]


def _noise_frames(n=6, h=24, w=32, seed=11):
    rng = np.random.Generator(np.random.PCG64(seed))
    return [rng.integers(0, 256, (h, w, 3), dtype=np.uint8) for _ in range(n)]


def _hamming(a: int, b: int) -> int:
    return bin((a ^ b) & ((1 << 64) - 1)).count("1")


# --------------------------------------------------------------------------
# container round-trip
# --------------------------------------------------------------------------

def test_avi_round_trip_indexes_and_decodes_every_frame():
    frames = _gradient_frames(6)
    avi = encode_avi_mjpeg(frames, fps=5, quality=95)
    assert is_avi(avi)
    table = mjpeg_frame_index(avi)
    assert len(table) == 6
    # each movi chunk holds exactly the standalone baseline JPEG of its frame
    off, size = table[2]
    assert avi[off : off + size] == encode_jpeg(frames[2], quality=95)
    for (off, size), src in zip(table, frames):
        img = decode_jpeg(avi[off : off + size])
        assert img.shape == src.shape
        assert np.abs(img.astype(int) - src.astype(int)).max() <= 3


def test_rec_list_nesting_parses():
    """Interleaved AVIs group frames in 'rec ' LISTs one level below movi."""
    frames = _gradient_frames(4)
    jpegs = [encode_jpeg(f, quality=90) for f in frames]

    def chunk(cid, body):
        return cid + struct.pack("<I", len(body)) + body + b"\0" * (len(body) & 1)

    rec = chunk(b"LIST", b"rec " + b"".join(chunk(b"00dc", j) for j in jpegs[:2]))
    movi = chunk(
        b"LIST",
        b"movi" + rec + b"".join(chunk(b"00dc", j) for j in jpegs[2:]),
    )
    body = b"AVI " + movi
    avi = b"RIFF" + struct.pack("<I", len(body)) + body
    table = mjpeg_frame_index(avi)
    assert len(table) == 4
    off, size = table[1]
    assert np.abs(
        decode_jpeg(avi[off : off + size]).astype(int) - frames[1].astype(int)
    ).max() <= 3


def test_encoder_input_validation():
    with pytest.raises(ValueError, match="no frames"):
        encode_avi_mjpeg([])
    with pytest.raises(ValueError, match="geometry"):
        encode_avi_mjpeg([np.zeros((8, 8, 3), np.uint8),
                          np.zeros((8, 16, 3), np.uint8)])


# --------------------------------------------------------------------------
# untrusted-byte bounds (crawl payloads lie)
# --------------------------------------------------------------------------

def test_malformed_payloads_raise_valueerror():
    avi = encode_avi_mjpeg(_gradient_frames(3), quality=90)
    with pytest.raises(ValueError, match="not a RIFF/AVI"):
        mjpeg_frame_index(b"\x00\x00\x00 ftypisom rest-of-an-mp4")
    # chunk size field pointing past the container
    lying = bytearray(avi)
    movi_at = avi.index(b"movi") - 8
    struct.pack_into("<I", lying, movi_at + 4, len(avi) * 2)
    with pytest.raises(ValueError, match="past container"):
        mjpeg_frame_index(bytes(lying))
    # truncation mid-chunk is tolerated only up to the RIFF framing: the RIFF
    # size still claims the full length, so the movi walk must raise
    with pytest.raises(ValueError, match="past container"):
        mjpeg_frame_index(avi[: len(avi) // 2])


def test_frame_count_cap(monkeypatch):
    monkeypatch.setattr(videocodec, "MAX_FRAMES", 2)
    avi = encode_avi_mjpeg(_gradient_frames(3), quality=85)
    with pytest.raises(ValueError, match="MAX_FRAMES"):
        mjpeg_frame_index(avi)


def test_list_nesting_depth_cap():
    def chunk(cid, body):
        return cid + struct.pack("<I", len(body)) + body + b"\0" * (len(body) & 1)

    inner = chunk(b"00dc", encode_jpeg(_gradient_frames(1)[0]))
    for _ in range(6):
        inner = chunk(b"LIST", b"rec " + inner)
    body = b"AVI " + chunk(b"LIST", b"movi" + inner)
    avi = b"RIFF" + struct.pack("<I", len(body)) + body
    with pytest.raises(ValueError, match="nesting too deep"):
        mjpeg_frame_index(avi)


# --------------------------------------------------------------------------
# frame sampling
# --------------------------------------------------------------------------

def test_sample_frame_indices_box_center_and_clamped():
    assert sample_frame_indices(6, 3) == [1, 3, 5]
    assert sample_frame_indices(6, 100) == [0, 1, 2, 3, 4, 5]
    assert sample_frame_indices(0, 4) == []
    assert sample_frame_indices(5, 0) == []
    idx = sample_frame_indices(1000, 7)
    assert idx == sorted(set(idx)) and idx[-1] < 1000  # distinct, in range


# --------------------------------------------------------------------------
# perceptual hashes
# --------------------------------------------------------------------------

def test_ahash_robust_to_reencode_far_for_unrelated():
    img = _gradient_frames(1, h=40, w=56)[0]
    h_orig = ahash64(img)
    h_re = ahash64(decode_jpeg(encode_jpeg(img, quality=60)))
    assert _hamming(h_orig, h_re) <= 6
    h_noise = ahash64(_noise_frames(1, h=40, w=56)[0])
    assert _hamming(h_orig, h_noise) >= 16
    # tiny images upscale rather than divide by zero; grayscale accepted
    assert isinstance(ahash64(np.arange(12, dtype=np.uint8).reshape(3, 4)), int)
    with pytest.raises(ValueError, match="empty"):
        ahash64(np.zeros((0, 8), np.uint8))


def test_video_simhash_reencode_stable_unrelated_far():
    frames = _gradient_frames(6)
    fp_hi = video_simhash(encode_avi_mjpeg(frames, quality=95), 4)
    fp_lo = video_simhash(encode_avi_mjpeg(frames, quality=55), 4)
    assert _hamming(fp_hi, fp_lo) <= 6
    fp_other = video_simhash(encode_avi_mjpeg(_noise_frames(6), quality=95), 4)
    assert _hamming(fp_hi, fp_other) >= 16
    # int64-signed convention (Spark/DuckDB bigint), same as audio_simhash
    assert -(1 << 63) <= fp_hi < (1 << 63)


def test_video_simhash_frameless_raises():
    body = b"AVI " + b"LIST" + struct.pack("<I", 4) + b"movi"
    avi = b"RIFF" + struct.pack("<I", len(body)) + body
    with pytest.raises(ValueError, match="no video frames"):
        video_simhash(avi)


def test_ahash_flat_frames_encode_luma_as_thermometer():
    """Flat frames must NOT all collide at hash 0: the thermometer special
    case makes Hamming distance between two flat frames equal their quantized
    luma-level difference, while a JPEG re-encode (which keeps a flat frame
    flat) stays within a bit or two."""
    black = np.zeros((24, 32, 3), np.uint8)
    white = np.full((24, 32, 3), 255, np.uint8)
    gray = np.full((24, 32, 3), 128, np.uint8)
    hb, hw, hg = ahash64(black), ahash64(white), ahash64(gray)
    assert _hamming(hb, hw) == 64  # plain threshold-vs-mean gave 0
    k = round(128 * 64 / 255)
    assert _hamming(hb, hg) == k
    assert _hamming(hg, hw) == 64 - k
    # near levels stay near, re-encode stays near (flat survives JPEG)
    assert _hamming(ahash64(np.full((24, 32, 3), 130, np.uint8)), hg) <= 2
    re = decode_jpeg(encode_jpeg(gray, quality=85))
    assert _hamming(ahash64(re), hg) <= 2


def test_sample_frame_payloads_shared_by_simhash_and_spark_path():
    """video_simhash's frame selection: evenly-spaced indices, each slice
    exactly its frame's movi chunk."""
    frames = _gradient_frames(7)
    avi = encode_avi_mjpeg(frames, fps=5, quality=95)
    sampled = videocodec.sample_frame_payloads(avi, 3)
    assert [i for i, _ in sampled] == sample_frame_indices(7, 3)
    table = mjpeg_frame_index(avi)
    for i, jpeg in sampled:
        off, size = table[i]
        assert jpeg == avi[off : off + size]
    with pytest.raises(ValueError):
        videocodec.sample_frame_payloads(b"RIFFxxxxNOPE", 3)
