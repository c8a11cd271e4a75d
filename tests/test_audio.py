"""The audio codec and kernel the ``multimodal_audio_dedup`` registry row
runs: pure-stdlib WAV codec round trips, untrusted-byte guards, and
fingerprint robustness/separation.

Fingerprint fixtures are broadband (filtered noise with a slow AM envelope)
— the Haitsma–Kalker bit derivation is specified for real audio, where every
band carries content; pure tones leave most bands at the silence floor by
construction (covered separately below).
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from cqaduplicatefind_spark.functions.audio import (
    audio_simhash,
    decode_wav,
    encode_wav,
)

RATE = 16000
N = RATE * 2


def _broadband(seed: int) -> np.ndarray:
    """Speech-band filtered noise with a slow amplitude envelope."""
    rng = np.random.Generator(np.random.PCG64(seed))
    x = rng.normal(0, 1, N)
    kern = np.hanning(40)
    x = np.convolve(x, kern / kern.sum(), mode="same")
    t = np.arange(N) / RATE
    x *= 0.6 + 0.4 * np.sin(2 * np.pi * 1.3 * t)
    return 0.3 * x / np.abs(x).max()


def _ham(a: int, b: int) -> int:
    return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")


# --------------------------------------------------------------------------
# WAV codec
# --------------------------------------------------------------------------

def test_wav_round_trip_16bit():
    clip = _broadband(1)
    samples, rate = decode_wav(encode_wav(clip, RATE))
    assert rate == RATE and samples.size == N
    assert np.abs(samples - clip).max() < 1.0 / 32000  # 16-bit quantization step


def test_wav_8bit_24bit_float_and_stereo_paths():
    clip = _broadband(2)[:RATE]

    def wav(tag, bits, body, channels=1):
        fmt = struct.pack("<HHIIHH", tag, channels, RATE,
                          RATE * channels * bits // 8, channels * bits // 8, bits)
        payload = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
                   + b"data" + struct.pack("<I", len(body)) + body)
        return b"RIFF" + struct.pack("<I", len(payload)) + payload

    # 8-bit unsigned PCM
    s8, _ = decode_wav(wav(1, 8, ((clip * 127) + 128).astype(np.uint8).tobytes()))
    assert np.abs(s8 - clip).max() < 1 / 100  # 8-bit step
    # 24-bit PCM (little-endian 3-byte)
    v24 = np.round(clip * (1 << 23)).astype(np.int64)
    b24 = bytearray()
    for v in v24:
        b24 += int(v & 0xFFFFFF).to_bytes(3, "little")
    s24, _ = decode_wav(wav(1, 24, bytes(b24)))
    assert np.abs(s24 - clip).max() < 1e-6
    # IEEE float32
    s32, _ = decode_wav(wav(3, 32, clip.astype("<f4").tobytes()))
    assert np.abs(s32 - clip).max() < 1e-6
    # stereo averages to mono
    stereo = np.stack([clip, -clip], axis=1).astype("<f4").tobytes()
    sst, _ = decode_wav(wav(3, 32, stereo, channels=2))
    assert np.abs(sst).max() < 1e-6


def test_wav_rejects_adversarial_payloads():
    with pytest.raises(ValueError, match="RIFF"):
        decode_wav(b"not audio")
    with pytest.raises(ValueError, match="missing"):
        decode_wav(b"RIFF\x04\x00\x00\x00WAVE")
    # absurd claimed rate must fail header validation (it would otherwise
    # wrap the int32 sample_rate column or blow up duration math downstream)
    bomb = bytearray(encode_wav(np.zeros(16), RATE))
    i = bomb.index(b"fmt ")
    struct.pack_into("<I", bomb, i + 12, 4294967040)
    with pytest.raises(ValueError, match="invalid WAV header"):
        decode_wav(bytes(bomb))
    # compressed format tag (ADPCM=2) is out of pure-codec scope
    fmt = struct.pack("<HHIIHH", 2, 1, RATE, RATE, 1, 4)
    p = (b"RIFF" + struct.pack("<I", 100) + b"WAVE"
         + b"fmt " + struct.pack("<I", len(fmt)) + fmt
         + b"data" + struct.pack("<I", 4) + b"\0\0\0\0")
    with pytest.raises(ValueError, match="format tag"):
        decode_wav(p)


def test_wav_sample_bomb_guard(monkeypatch):
    """The decoded-sample bound refuses oversized audio before downstream
    feature work; chunk sizes themselves are clamped to the actual payload
    bytes (a lying size field cannot over-read)."""
    from cqaduplicatefind_spark.functions import audio as audio_mod

    clip = np.zeros(200)
    monkeypatch.setattr(audio_mod, "MAX_SAMPLES", 100)
    with pytest.raises(ValueError, match="MAX_SAMPLES"):
        decode_wav(encode_wav(clip, RATE))
    # lying data-chunk size: body slice is bounded by the real payload length
    wav = bytearray(encode_wav(np.zeros(64), RATE))
    i = wav.index(b"data")
    struct.pack_into("<I", wav, i + 4, 2**31 - 1)
    samples, _ = decode_wav(bytes(wav))
    assert samples.size == 64


# --------------------------------------------------------------------------
# Fingerprint robustness / separation
# --------------------------------------------------------------------------

def test_fingerprint_invariances_on_broadband():
    """Re-encode (16-bit), volume change, and 50 dB SNR noise must stay within
    a tiny Hamming distance; distinct clips must be far."""
    rng = np.random.Generator(np.random.PCG64(9))
    clips = [_broadband(s) for s in (1, 2, 3)]
    hs = [audio_simhash(c, RATE) for c in clips]
    for c, h in zip(clips, hs):
        redec, r = decode_wav(encode_wav(c, RATE))
        assert _ham(h, audio_simhash(redec, r)) <= 1
        assert _ham(h, audio_simhash(c * 0.4, RATE)) <= 1
        noisy = c + rng.normal(0, c.std() / 300, N)
        assert _ham(h, audio_simhash(noisy, RATE)) <= 4
    for i in range(3):
        for j in range(i + 1, 3):
            assert _ham(hs[i], hs[j]) >= 8, (i, j)


def test_fingerprint_tail_change_flips_only_upper_bits():
    """The two time halves map to the two 32-bit halves: changing only samples
    no lower-half frame touches must leave the lower 32 bits intact. Frames
    overlap (FRAME window, HOP stride), so the safe cut is where the LAST
    lower-half frame ends, not the sample midpoint."""
    from cqaduplicatefind_spark.functions.audio import FRAME, HOP

    n_frames = 1 + (N - FRAME) // HOP
    lower_end = ((n_frames + 1) // 2 - 1) * HOP + FRAME
    a = _broadband(1)
    b = a.copy()
    b[lower_end:] = _broadband(7)[lower_end:]
    d = (audio_simhash(a, RATE) ^ audio_simhash(b, RATE)) & 0xFFFFFFFFFFFFFFFF
    assert bin(d & 0xFFFFFFFF).count("1") == 0
    assert bin(d >> 32).count("1") >= 4


def test_fingerprint_deterministic_on_tones_and_silence():
    """Pure tones / silence have near-empty bands; the silence floor must make
    their fingerprints deterministic under re-encode (no noise-driven bits)."""
    t = np.arange(N) / RATE
    for clip in (0.5 * np.sin(2 * np.pi * 440 * t), np.zeros(N)):
        h = audio_simhash(clip, RATE)
        redec, r = decode_wav(encode_wav(clip, RATE))
        assert _ham(h, audio_simhash(redec, r)) == 0


def test_fingerprint_rejects_low_sample_rates():
    """Below MIN_FINGERPRINT_RATE every band is degenerate and ALL clips would
    fingerprint to ~0 (false-pairing unrelated audio at Hamming 0); the kernel
    must refuse instead."""
    from cqaduplicatefind_spark.functions.audio import MIN_FINGERPRINT_RATE

    rng = np.random.Generator(np.random.PCG64(3))
    clip = rng.normal(0, 0.1, 4000)
    with pytest.raises(ValueError, match="MIN_FINGERPRINT_RATE"):
        audio_simhash(clip, MIN_FINGERPRINT_RATE - 1)
    assert isinstance(audio_simhash(clip, MIN_FINGERPRINT_RATE), int)


def test_chunked_framing_is_chunk_size_invariant(monkeypatch):
    """The bounded-memory chunked FFT must produce bit-identical band
    energies and fingerprints regardless of where chunk boundaries fall."""
    from cqaduplicatefind_spark.functions import audio as audio_mod

    x = _broadband(7)  # ~30 frames at FRAME=2048/HOP=1024
    ref_fp = audio_simhash(x, RATE)
    ref_bands = audio_mod._band_energies(x, RATE)
    monkeypatch.setattr(audio_mod, "_CHUNK_FRAMES", 3)
    assert audio_simhash(x, RATE) == ref_fp
    assert np.array_equal(audio_mod._band_energies(x, RATE), ref_bands)


