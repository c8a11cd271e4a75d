"""Audio columns: pure-stdlib WAV (RIFF PCM) decode and a Haitsma–Kalker-style
robust fingerprint for near-duplicate audio — the codec and kernel the
``multimodal_audio_dedup`` registry row runs inside ``mapInPandas``
(images: ``jpegcodec.py``, row ``multimodal_phash_groups``; video:
``videocodec.py``, row ``multimodal_video_dedup``).

Everything here is a real decode/transform, not a stub: RIFF parsing is ~60
lines of struct reads, and numpy's FFT provides the spectral analysis. The
compressed formats a crawl also carries (MP3/AAC/Opus) need external codecs
and are refused with ``ValueError``, exactly like progressive JPEG on the
image side.

Scale notes: per-payload work is bounded by ``MAX_SAMPLES`` before any
allocation (untrusted crawl bytes must not OOM an executor), and the framed
FFT runs in bounded chunks (``_CHUNK_FRAMES``). Near-dup pairing over
fingerprints reuses the engine's Hamming kernel (``bit_count`` on xor, same
as SimHash) rather than a new join path.

Fingerprint design (public: Haitsma & Kalker, "A Highly Robust Audio
Fingerprinting System", ISMIR 2002): frame the signal, take log-band energies,
and threshold band-energy differences to bits; near-identical audio
(re-encoded, slightly noisy) flips few bits, unrelated audio ~half. A 64-bit
doc-level hash makes the existing bucketed Hamming machinery apply unchanged.
"""

from __future__ import annotations

import struct

import numpy as np

# refuse payloads claiming more decoded samples than this BEFORE allocating
MAX_SAMPLES = 256 * 1024 * 1024 // 8  # ~32M samples ≈ 12 min at 44.1 kHz stereo
# reject absurd header rates before they flow into duration math or band edges
# (legitimate audio tops out at 384 kHz; crawl bytes can claim anything)
MAX_RATE = 4_194_304
# the fingerprint's band range needs Nyquist comfortably above the 300 Hz
# bottom edge; below this rate every band is degenerate and all clips would
# collide at fingerprint 0 (callers treat these like undecodable payloads)
MIN_FINGERPRINT_RATE = 1200

FRAME = 2048  # fingerprint frame length (samples)
HOP = 1024  # 50% overlap
N_BANDS = 33  # 33 log-spaced bands -> 32 difference bits per frame


# --------------------------------------------------------------------------
# WAV (RIFF PCM / IEEE-float) codec
# --------------------------------------------------------------------------

def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """RIFF WAV -> (mono float64 samples in [-1, 1], sample_rate).

    Supports PCM 8-bit unsigned / 16-bit / 24-bit / 32-bit signed and IEEE
    float32/float64, any channel count (averaged to mono). Raises
    ``ValueError`` on anything else — compressed WAV (ADPCM, MP3-in-WAV)
    needs external codecs.
    """
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    fmt = None
    data = None
    i = 12
    n = len(payload)
    while i + 8 <= n:
        cid = payload[i : i + 4]
        (size,) = struct.unpack("<I", payload[i + 4 : i + 8])
        body = payload[i + 8 : i + 8 + size]
        if cid == b"fmt ":
            if len(body) < 16:
                raise ValueError("truncated WAV fmt chunk")
            tag, channels, rate, _, _, bits = struct.unpack("<HHIIHH", body[:16])
            if tag == 0xFFFE and len(body) >= 40:  # WAVE_FORMAT_EXTENSIBLE
                tag = struct.unpack("<H", body[24:26])[0]
            fmt = (tag, channels, rate, bits)
        elif cid == b"data":
            data = body
        i += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt or data chunk")
    tag, channels, rate, bits = fmt
    if channels < 1 or rate < 1 or rate > MAX_RATE:
        raise ValueError(f"invalid WAV header (channels={channels}, rate={rate})")
    # bound the decoded array BEFORE any conversion allocates: the claimed
    # sample count is len(data) / bytes-per-sample, known up front (a lying
    # chunk size cannot inflate it — body slicing clamps to the real payload)
    if bits in (8, 16, 24, 32, 64):
        if len(data) // (bits // 8) > MAX_SAMPLES:
            raise ValueError(
                f"WAV claims {len(data) // (bits // 8)} samples "
                f"(> MAX_SAMPLES={MAX_SAMPLES})"
            )
    if tag == 1:  # PCM
        if bits == 8:
            raw = np.frombuffer(data, dtype=np.uint8).astype(np.float64)
            samples = (raw - 128.0) / 128.0
        elif bits == 16:
            raw = np.frombuffer(data[: len(data) & ~1], dtype="<i2")
            samples = raw.astype(np.float64) / 32768.0
        elif bits == 24:
            usable = len(data) - len(data) % 3
            b = np.frombuffer(data[:usable], dtype=np.uint8).reshape(-1, 3)
            v = (
                b[:, 0].astype(np.int64)
                | (b[:, 1].astype(np.int64) << 8)
                | (b[:, 2].astype(np.int64) << 16)
            )
            v = np.where(v >= 1 << 23, v - (1 << 24), v)
            samples = v.astype(np.float64) / float(1 << 23)
        elif bits == 32:
            raw = np.frombuffer(data[: len(data) & ~3], dtype="<i4")
            samples = raw.astype(np.float64) / float(1 << 31)
        else:
            raise ValueError(f"unsupported PCM bit depth {bits}")
    elif tag == 3:  # IEEE float
        if bits == 32:
            samples = np.frombuffer(data[: len(data) & ~3], dtype="<f4").astype(
                np.float64
            )
        elif bits == 64:
            samples = np.frombuffer(data[: len(data) & ~7], dtype="<f8").astype(
                np.float64
            )
        else:
            raise ValueError(f"unsupported float bit depth {bits}")
    else:
        raise ValueError(f"unsupported WAV format tag {tag} (compressed?)")
    if channels > 1:
        usable = samples.size - samples.size % channels
        samples = samples[:usable].reshape(-1, channels).mean(axis=1)
    return samples, rate


def encode_wav(samples: np.ndarray, rate: int) -> bytes:
    """mono float64 in [-1, 1] -> 16-bit PCM WAV bytes (tests' fixture path)."""
    pcm = np.clip(np.round(np.asarray(samples, dtype=np.float64) * 32767.0),
                  -32768, 32767).astype("<i2")
    data = pcm.tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


# --------------------------------------------------------------------------
# Robust fingerprint
# --------------------------------------------------------------------------

# frames per FFT chunk: bounds the framing working set regardless of clip
# length (float32 frames 4096x2048 = 32 MB + complex64 spectra 4096x1025 =
# 33 MB + float64 chunk conversions ~67 MB), vs the unchunked int64-fancy-index
# formulation whose peak neared 1.8 GB for a MAX_SAMPLES clip — with several
# concurrent Arrow-batch tasks per executor that transient was the real OOM
# risk the MAX_SAMPLES bound exists to prevent
_CHUNK_FRAMES = 4096


def _iter_power(samples: np.ndarray):
    """Yield float64 ``(<=_CHUNK_FRAMES, FRAME//2+1)`` power spectra of
    Hann-windowed 50%-overlap frames. Framing is a zero-copy strided view
    (``sliding_window_view``), the window product + FFT run in float32
    per chunk (exact enough for log-band sign bits),
    accumulation happens in float64."""
    n = samples.size
    if n < FRAME:
        samples = np.pad(samples, (0, FRAME - n))
    sig = samples.astype(np.float32)
    win = np.hanning(FRAME).astype(np.float32)
    view = np.lib.stride_tricks.sliding_window_view(sig, FRAME)[::HOP]
    for s in range(0, view.shape[0], _CHUNK_FRAMES):
        chunk = view[s : s + _CHUNK_FRAMES] * win  # first copy: float32
        spec = np.fft.rfft(chunk, axis=1)  # complex64
        yield (spec.real.astype(np.float64) ** 2
               + spec.imag.astype(np.float64) ** 2)


def _band_energies(samples: np.ndarray, rate: int) -> np.ndarray:
    """(n_frames, N_BANDS) log-spaced band energies of Hann-windowed frames,
    in ONE chunked pass over the framed power spectra; requires
    ``rate >= MIN_FINGERPRINT_RATE``."""
    if rate < MIN_FINGERPRINT_RATE:
        raise ValueError(
            f"sample rate {rate} too low for spectral fingerprint "
            f"(< MIN_FINGERPRINT_RATE={MIN_FINGERPRINT_RATE})"
        )
    freqs = np.fft.rfftfreq(FRAME, d=1.0 / rate)
    # log-spaced band edges over the robust range (300 Hz .. min(3 kHz,
    # Nyquist))
    top = min(3000.0, rate / 2.0)
    edges = np.geomspace(300.0, top, N_BANDS + 1)
    sels = [(freqs >= edges[b]) & (freqs < edges[b + 1]) for b in range(N_BANDS)]
    rows: list[np.ndarray] = []
    for power in _iter_power(samples):
        bands = np.zeros((power.shape[0], N_BANDS))
        for b, sel in enumerate(sels):
            if sel.any():
                bands[:, b] = power[:, sel].sum(axis=1)
        # clamp near-silent bands to a per-frame relative floor (-50 dB):
        # their exact leakage/noise level is measurement noise, and without
        # the clamp a re-encode or faint noise bed rewrites the fingerprint
        # bits of every band that carries no real content (pure tones,
        # silence, band-limited speech all have many such)
        floor = 1e-5 * power.sum(axis=1, keepdims=True)
        rows.append(np.maximum(bands, floor))
    return np.concatenate(rows, axis=0)


def audio_simhash(samples: np.ndarray, rate: int) -> int:
    """64-bit doc-level fingerprint for near-duplicate audio: each time half of
    the clip contributes 32 bits, bit[b] = sign of the clip-summed log-band
    energy difference ``sum_t (logE[t,b] - logE[t,b+1])``.

    Summing the SIGNED margins (not per-frame sign votes) makes the bits
    noise-robust: bands where the spectrum has real structure accumulate large
    margins that small perturbations cannot flip, while near-silent bands'
    noise cancels across frames. The log makes it level-invariant. Per-frame
    temporal structure is intentionally NOT in this hash; two time halves
    keep enough coarse temporal order that clips differing only in their
    second half differ in the upper 32 bits.

    Returns a SIGNED 64-bit int (Spark/DuckDB ``bigint`` convention, same as
    ``functions.signatures``) — pair with the same ``bit_count(a ^ b)``
    Hamming kernel the engine uses for SimHash text dedup."""
    e = np.log(_band_energies(samples, rate) + 1e-12)
    fdiff = e[:, :-1] - e[:, 1:]  # (n_frames, 32) signed margins
    n = fdiff.shape[0]
    sig = np.uint64(0)
    for half, block in ((0, fdiff[: (n + 1) // 2]), (32, fdiff[(n + 1) // 2 :])):
        if block.shape[0] == 0:
            continue
        votes = block.sum(axis=0)
        for b in range(32):
            if votes[b] > 0:
                sig |= np.uint64(1) << np.uint64(half + b)
    return int(sig.astype(np.int64))
