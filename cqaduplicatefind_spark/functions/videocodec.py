"""Video columns: pure-python MJPEG-in-AVI parsing + per-frame baseline JPEG
decode — the container codec and clip fingerprint the
``multimodal_video_dedup`` registry row runs inside ``mapInPandas``
(images: ``jpegcodec.py``, whose decoded pixels ``ahash64`` hashes for the
``multimodal_phash_groups`` row; audio: ``audio.py``).

Motion-JPEG inside an AVI/RIFF container is the one video format decodable
without external codec libraries: the container is flat chunk framing (~80
lines of struct reads) and every frame is an independent baseline JPEG the
pure codec already handles. Everything here is a real decode, not a stub;
inter-frame-coded containers (H.264/VP9/AV1 in MP4/WebM/MKV) genuinely need
ffmpeg and are refused with ``ValueError``.

The reference (kkrasika/CQADuplicateFind) has no media path at all — this
extends the engine's multimodal plumbing so video near-dup rides the same
machinery as text/audio: sampled frames hash to a 64-bit doc-level fingerprint
(majority vote over per-frame aHashes) paired with the engine's existing
``bit_count(a ^ b)`` Hamming kernel.

Scale notes: frame *indexing* is O(container bytes) with no per-frame
allocation, so sampling k frames from an N-frame clip decodes only k JPEGs;
the index table is capped (``MAX_FRAMES``) before it is built — untrusted
crawl bytes must not balloon driver-side lists or pin an executor.
"""

from __future__ import annotations

import struct

import numpy as np

from cqaduplicatefind_spark.functions.jpegcodec import decode_jpeg, encode_jpeg

# refuse to index containers claiming more frame chunks than this (an
# adversarial few-KB payload can declare millions of zero-length chunks;
# the cap bounds the index list BEFORE it grows, same spirit as
# jpegcodec.MAX_PIXELS / audio.MAX_SAMPLES)
MAX_FRAMES = 1 << 20
# 'rec ' LISTs group frames one level below 'movi'; anything deeper is not a
# legal AVI and recursing into it would let crafted nesting stack-overflow
_MAX_LIST_DEPTH = 4


def is_avi(payload: bytes) -> bool:
    """Cheap magic-bytes check (dispatch guard, not validation)."""
    return len(payload) >= 12 and payload[:4] == b"RIFF" and payload[8:12] == b"AVI "


def _u32(payload: bytes, off: int) -> int:
    if off + 4 > len(payload):
        raise ValueError("truncated AVI chunk header")
    return struct.unpack_from("<I", payload, off)[0]


def _walk_frames(payload: bytes, pos: int, end: int, depth: int,
                 frames: list[tuple[int, int]]) -> None:
    """Collect (offset, size) of video-frame chunks ('##dc'/'##db') between
    ``pos`` and ``end``, descending into 'rec ' LISTs. Every size field is
    untrusted: chunks extending past ``end`` raise instead of clamping —
    a lying length means the rest of the stream would be misframed anyway."""
    while pos + 8 <= end:
        cid = payload[pos : pos + 4]
        size = _u32(payload, pos + 4)
        body_end = pos + 8 + size
        if body_end > end:
            raise ValueError("AVI chunk extends past container")
        if cid == b"LIST":
            if size < 4:
                raise ValueError("truncated AVI LIST")
            if payload[pos + 8 : pos + 12] == b"rec ":
                if depth + 1 >= _MAX_LIST_DEPTH:
                    raise ValueError("AVI LIST nesting too deep")
                _walk_frames(payload, pos + 12, body_end, depth + 1, frames)
            # other LISTs inside movi are not frame data; skip whole
        elif cid[2:4] in (b"dc", b"db") and cid[:2].isdigit():
            if size > 0:  # zero-length chunks mark dropped frames
                if len(frames) >= MAX_FRAMES:
                    raise ValueError(
                        f"AVI claims more than MAX_FRAMES={MAX_FRAMES} frames"
                    )
                frames.append((pos + 8, size))
        pos = body_end + (size & 1)  # chunks are word-aligned


def mjpeg_frame_index(payload: bytes) -> list[tuple[int, int]]:
    """AVI bytes -> [(byte_offset, size)] of every non-empty video frame chunk,
    in stream order. Walks the 'movi' LIST(s) directly rather than trusting
    the optional 'idx1' index (crawl files routinely carry stale or absent
    indexes). Raises ``ValueError`` on non-AVI or misframed payloads."""
    if not is_avi(payload):
        raise ValueError("not a RIFF/AVI payload")
    # the RIFF size field is untrusted; frame within the real byte range
    end = min(len(payload), 8 + _u32(payload, 4))
    frames: list[tuple[int, int]] = []
    pos = 12
    while pos + 8 <= end:
        cid = payload[pos : pos + 4]
        size = _u32(payload, pos + 4)
        body_end = pos + 8 + size
        if body_end > end:
            raise ValueError("AVI chunk extends past container")
        if cid == b"LIST" and size >= 4 and payload[pos + 8 : pos + 12] == b"movi":
            _walk_frames(payload, pos + 12, body_end, 0, frames)
        pos = body_end + (size & 1)
    return frames


def sample_frame_indices(total: int, n: int) -> list[int]:
    """Evenly-spaced frame indices, box-center convention: deterministic,
    covers the clip's span, returns all frames when ``n >= total``."""
    if total <= 0 or n <= 0:
        return []
    n = min(n, total)
    return [min(int((i + 0.5) * total / n), total - 1) for i in range(n)]


def sample_frame_payloads(payload: bytes, n: int) -> list[tuple[int, bytes]]:
    """AVI bytes -> [(frame_idx, complete JPEG bytes)] for ``n`` evenly-spaced
    frames: index the container, pick ``sample_frame_indices``, slice only the
    selected chunks — ``video_simhash``'s frame selection. Raises
    ``ValueError`` on non-AVI or misframed payloads."""
    table = mjpeg_frame_index(payload)
    return [
        (i, payload[table[i][0] : table[i][0] + table[i][1]])
        for i in sample_frame_indices(len(table), n)
    ]


def encode_avi_mjpeg(
    frames: list[np.ndarray], fps: int = 10, quality: int = 85
) -> bytes:
    """(H, W, 3)/(H, W) uint8 frames -> MJPEG AVI bytes (avih + vids/MJPG strh
    + BITMAPINFOHEADER strf + '00dc' JPEG chunks + idx1). All frames must share
    one geometry — AVI streams are fixed-size. The test-fixture/sink path,
    mirroring ``audio.encode_wav`` / ``jpegcodec.encode_jpeg``."""
    if not frames:
        raise ValueError("no frames")
    if fps < 1:
        raise ValueError("fps must be >= 1")
    h, w = frames[0].shape[:2]
    jpegs = []
    for f in frames:
        if f.shape[:2] != (h, w):
            raise ValueError("all frames must share one geometry")
        jpegs.append(encode_jpeg(f, quality=quality))

    def chunk(cid: bytes, body: bytes) -> bytes:
        return cid + struct.pack("<I", len(body)) + body + (b"\0" * (len(body) & 1))

    def lst(ltype: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", ltype + body)

    buf_size = max(len(j) for j in jpegs)
    avih = struct.pack(
        "<14I",
        1_000_000 // fps,  # dwMicroSecPerFrame
        buf_size * fps,  # dwMaxBytesPerSec
        0, 0x10,  # padding, AVIF_HASINDEX
        len(jpegs), 0, 1,  # totalFrames, initialFrames, streams
        buf_size, w, h, 0, 0, 0, 0,
    )
    strh = (
        b"vids" + b"MJPG"
        + struct.pack("<IHHIIIIIIiI", 0, 0, 0, 0, 1, fps, 0, len(jpegs),
                      buf_size, -1, 0)
        + struct.pack("<4H", 0, 0, w, h)
    )
    strf = struct.pack(
        "<IiiHH4sIiiII", 40, w, h, 1, 24, b"MJPG", h * w * 3, 0, 0, 0, 0
    )
    hdrl = lst(b"hdrl", chunk(b"avih", avih)
               + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
    movi_body = b"movi"
    idx_entries = []
    for j in jpegs:
        # idx1 offsets point at the chunk id, relative to the 'movi' fourcc
        idx_entries.append((len(movi_body) - 4, len(j)))
        movi_body += chunk(b"00dc", j)
    movi = chunk(b"LIST", movi_body)
    idx1 = chunk(
        b"idx1",
        b"".join(
            b"00dc" + struct.pack("<III", 0x10, off, size)
            for off, size in idx_entries
        ),
    )
    riff_body = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


# --------------------------------------------------------------------------
# Perceptual frame hash + doc-level video fingerprint
# --------------------------------------------------------------------------

def ahash64(img: np.ndarray) -> int:
    """(H, W[, 3]) uint8 -> 64-bit average hash: luma -> mean-pooled 8x8 grid
    (integral image, exact block means for any geometry) -> bit per cell,
    1 = above grid mean. The classic public aHash construction: re-encoding,
    mild blur, and resampling flip few bits; unrelated images differ in ~32.

    Flat frames are special-cased: threshold-vs-mean maps EVERY flat frame to
    hash 0 regardless of level (an all-black and an all-white frame would
    false-pair at Hamming 0), so frames whose 8x8 grid is essentially constant
    instead encode their quantized luma as a 64-level thermometer code —
    Hamming distance between two flat frames equals their level difference
    (black vs white = 64), and a JPEG re-encode of a flat frame stays flat
    (DC-only), so near-dup stability is preserved where it matters.

    Returns a SIGNED 64-bit int (Spark/DuckDB ``bigint`` convention, same as
    ``audio.audio_simhash``); bit k = row-major cell k."""
    a = np.asarray(img, dtype=np.float64)
    gray = (
        0.299 * a[:, :, 0] + 0.587 * a[:, :, 1] + 0.114 * a[:, :, 2]
        if a.ndim == 3
        else a
    )
    h, w = gray.shape
    if h < 1 or w < 1:
        raise ValueError("empty image")
    if h < 8:
        gray = np.repeat(gray, -(-8 // h), axis=0)
        h = gray.shape[0]
    if w < 8:
        gray = np.repeat(gray, -(-8 // w), axis=1)
        w = gray.shape[1]
    ii = np.zeros((h + 1, w + 1))
    ii[1:, 1:] = gray.cumsum(axis=0).cumsum(axis=1)
    rb = (np.arange(9) * h) // 8
    cb = (np.arange(9) * w) // 8
    s = ii[rb][:, cb]
    block = s[1:, 1:] - s[:-1, 1:] - s[1:, :-1] + s[:-1, :-1]
    area = np.outer(np.diff(rb), np.diff(cb))
    means = block / area
    if float(means.max() - means.min()) < 0.5:  # flat: see docstring
        k = min(max(int(round(float(means.mean()) * 64.0 / 255.0)), 0), 64)
        sig = np.uint64(0xFFFFFFFFFFFFFFFF) if k >= 64 \
            else (np.uint64(1) << np.uint64(k)) - np.uint64(1)
        return int(sig.astype(np.int64))
    bits = (means > means.mean()).astype(np.uint64).ravel()
    weights = np.uint64(1) << np.arange(64, dtype=np.uint64)
    return int((bits * weights).sum(dtype=np.uint64).astype(np.int64))


def video_simhash(payload: bytes, n_frames: int = 8) -> int:
    """AVI bytes -> 64-bit doc-level fingerprint: majority vote per bit over
    the sampled frames' aHashes (ties -> 1, so a single-frame clip's hash is
    its frame hash). Re-encoded copies of a clip flip few bits; unrelated
    clips differ in ~32 — pair with the engine's ``bit_count(a ^ b)`` Hamming
    kernel, exactly like text SimHash and audio fingerprints. Raises
    ``ValueError`` on malformed/frameless payloads (callers treat those like
    undecodable audio)."""
    sampled = sample_frame_payloads(payload, n_frames)
    if not sampled:
        raise ValueError("AVI has no video frames")
    fps = [ahash64(decode_jpeg(jpeg)) for _, jpeg in sampled]
    u = np.array(fps, dtype=np.int64).astype(np.uint64)
    bits = (u[:, None] >> np.arange(64, dtype=np.uint64)[None, :]) & np.uint64(1)
    ones = bits.sum(axis=0)
    maj = (2 * ones >= len(fps)).astype(np.uint64)
    weights = np.uint64(1) << np.arange(64, dtype=np.uint64)
    return int((maj * weights).sum(dtype=np.uint64).astype(np.int64))
