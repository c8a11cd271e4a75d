"""Adversarial-input contract for every pure-numpy decoder: on ARBITRARY
bytes — truncations, bit flips, marker injections, random garbage behind valid
magic — a decoder either returns a valid result or raises ``ValueError``.

Why this exact contract matters: a caller running a decoder inside an
Arrow-batched map guards each payload by catching ``ValueError``; any other
exception type (KeyError from a Huffman dict, IndexError, struct.error,
ZeroDivisionError) escapes that per-payload guard and kills the whole Spark
task — one corrupt crawl payload poisoning a 10k-row Arrow batch. Deterministic
seeds: this is a pinned corpus, not flaky fuzzing."""

from __future__ import annotations

import numpy as np

from cqaduplicatefind_spark.functions.audio import decode_wav, encode_wav
from cqaduplicatefind_spark.functions.jpegcodec import decode_jpeg, encode_jpeg
from cqaduplicatefind_spark.functions import videocodec


def _check(fn, payloads):
    for p in payloads:
        try:
            fn(p)
        except ValueError:
            pass  # the contract
        except Exception as e:  # pragma: no cover - the failure being pinned
            raise AssertionError(
                f"{fn.__name__} raised {type(e).__name__} (not ValueError) "
                f"on a {len(p)}-byte payload: {e}"
            ) from e


def _mutations(good: bytes, rng) -> list[bytes]:
    cases = [good[:cut] for cut in range(2, len(good), 37)]
    for i in range(0, len(good), 11):
        b = bytearray(good)
        b[i] ^= 0xFF
        cases.append(bytes(b))
    for i in range(0, len(good) - 1, 53):
        b = bytearray(good)
        b[i : i + 2] = bytes(rng.integers(0, 256, 2, dtype=np.uint8))
        cases.append(bytes(b))
    return cases


def test_decode_jpeg_rejects_corrupt_with_valueerror_only():
    rng = np.random.Generator(np.random.PCG64(7))
    good = encode_jpeg(rng.integers(0, 256, (24, 24, 3), dtype=np.uint8), 85)
    cases = _mutations(good, rng)
    # marker injections (progressive SOF2, bogus DHT) at every offset stride
    for i in range(0, len(good) - 1, 31):
        b = bytearray(good)
        b[i : i + 2] = b"\xff\xc2"
        cases.append(bytes(b))
    # random garbage behind each magic prefix the dispatcher recognizes
    for pre in (b"\xff\xd8\xff\xe0", b"\xff\xd8\xff\xdb", b"\xff\xd8\xff\xc4"):
        for _ in range(40):
            cases.append(pre + rng.integers(0, 256, 300, dtype=np.uint8).tobytes())
    _check(decode_jpeg, cases)


def test_decode_wav_rejects_corrupt_with_valueerror_only():
    rng = np.random.Generator(np.random.PCG64(17))
    t = np.arange(800, dtype=np.float64) / 8000
    good = encode_wav(0.4 * np.sin(2 * np.pi * 440 * t), 8000)
    cases = _mutations(good, rng)
    for pre in (b"RIFF\x00\x01\x00\x00WAVEfmt ", b"RIFF\xff\xff\xff\xffWAVE"):
        for _ in range(40):
            cases.append(pre + rng.integers(0, 256, 200, dtype=np.uint8).tobytes())
    _check(decode_wav, cases)


def test_video_simhash_rejects_corrupt_with_valueerror_only():
    rng = np.random.Generator(np.random.PCG64(19))
    frames = [rng.integers(0, 256, (16, 16, 3), dtype=np.uint8) for _ in range(4)]
    good = videocodec.encode_avi_mjpeg(frames)
    cases = [good[:cut] for cut in range(13, len(good), 101)]
    for i in range(0, len(good), 29):
        b = bytearray(good)
        b[i] ^= 0xAA
        cases.append(bytes(b))
    _check(lambda p: videocodec.video_simhash(p, 4), cases)


def test_good_payloads_still_decode():
    """The corpus above is mutation-based; make sure the unmutated payloads
    decode (the contract test must not pass vacuously via reject-everything)."""
    rng = np.random.Generator(np.random.PCG64(7))
    img = rng.integers(0, 256, (24, 24, 3), dtype=np.uint8)
    assert decode_jpeg(encode_jpeg(img, 85)).shape[:2] == (24, 24)
    t = np.arange(800, dtype=np.float64) / 8000
    s, r = decode_wav(encode_wav(0.4 * np.sin(2 * np.pi * 440 * t), 8000))
    assert r == 8000 and len(s) == 800
    frames = [rng.integers(0, 256, (16, 16, 3), dtype=np.uint8) for _ in range(4)]
    assert isinstance(videocodec.video_simhash(videocodec.encode_avi_mjpeg(frames), 4), int)
