"""Property-based tests (hypothesis) — SURVEY §5.2: invariants that must hold for
ANY input, not just the goldens. Pure-python kernel properties (no Spark session
needed) so hypothesis can run hundreds of examples cheaply."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings, strategies as st

from cqaduplicatefind_spark.config import DedupConfig
from cqaduplicatefind_spark.functions.hashing import (
    TokenHasher,
    perm_seeds,
    shingle_hashes,
    splitmix64,
)
from cqaduplicatefind_spark.functions.normalize import review_to_wordlist
from cqaduplicatefind_spark.functions.signatures import minhash_matrix, simhash_vector
from cqaduplicatefind_spark.functions.stopwords import ENGLISH_STOPWORDS as STOPWORDS

TEXT = st.text(
    alphabet=st.sampled_from("abcdefghijklmnopqrstuvwxyzABCDE 0123456789.,!?'()<>&;"),
    max_size=300,
)


@settings(max_examples=200, derandomize=True)
@given(TEXT)
def test_normalize_output_invariants(raw):
    """For any input: single-spaced, lowercase, no leading/trailing space — the
    contract downstream shingling relies on (F4 note in SURVEY §2.7)."""
    out = review_to_wordlist(raw)
    assert "  " not in out
    assert out == out.strip()
    assert out == out.lower()


@settings(max_examples=200, derandomize=True)
@given(st.lists(st.sampled_from(sorted(STOPWORDS) + ["quick", "foxes", "jumps"]),
                max_size=20))
def test_normalize_drops_standalone_stopwords(words):
    """Whitespace-separated stopword TOKENS never survive. (A stopword glued to
    punctuation CAN survive — ';D' -> 'd' — because the reference removes
    stopwords BEFORE the punctuation regex, src/DataSetUtil.py:48-86; the quirk
    is pinned below.)"""
    out = review_to_wordlist(" ".join(words))
    for tok in out.split(" "):
        if tok:
            assert tok not in STOPWORDS


def test_normalize_stopword_order_quirk_is_reference_faithful():
    # stopword filter runs on raw lowercase splits; ';d' is not in the list,
    # then the regex strips ';' and the stopword 'd' re-emerges — exactly what
    # the reference's pipeline order produces
    assert review_to_wordlist(";D") == "d"


@settings(max_examples=100, derandomize=True)
@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=40),
       st.integers(min_value=1, max_value=6))
def test_shingle_hashes_shape_and_determinism(vals, k):
    arr = np.array(vals, dtype=np.uint64)
    h1 = shingle_hashes(arr, k)
    h2 = shingle_hashes(arr.copy(), k)
    assert np.array_equal(h1, h2)
    assert len(h1) == max(0, len(arr) - k + 1)


@settings(max_examples=50, derandomize=True)
@given(st.lists(st.sets(st.integers(min_value=0, max_value=2**60),
                        min_size=0, max_size=60), min_size=1, max_size=8))
def test_minhash_equal_lanes_estimates_jaccard(doc_sets):
    """Fraction of equal MinHash lanes ~ true Jaccard within the 128-perm
    binomial bound (5 sigma) for every pair of random shingle sets."""
    seeds = perm_seeds(128, 42)
    arrays = [np.array(sorted(s), dtype=np.uint64) for s in doc_sets]
    offsets = np.concatenate(([0], np.cumsum([len(a) for a in arrays])))
    flat = (np.concatenate(arrays) if any(len(a) for a in arrays)
            else np.empty(0, np.uint64))
    sig = minhash_matrix(flat, offsets, seeds)
    for i in range(len(doc_sets)):
        for j in range(i + 1, len(doc_sets)):
            a, b = doc_sets[i], doc_sets[j]
            if not a and not b:
                continue
            true_j = len(a & b) / len(a | b)
            est = float(np.mean(sig[i] == sig[j]))
            if not a or not b:
                assert est == 0.0  # empty docs never collide (MAX_U64 vs real)
                continue
            sigma = max(np.sqrt(true_j * (1 - true_j) / 128), 1e-9)
            assert abs(est - true_j) <= max(5 * sigma, 0.08), (true_j, est)


@settings(max_examples=100, derandomize=True)
@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1),
                min_size=0, max_size=50))
def test_simhash_permutation_invariant(vals):
    """SimHash is a bag-of-tokens statistic: any reordering of the tokens gives
    the same signature (order-insensitivity the Hamming-bucket join relies on)."""
    arr = np.array(vals, dtype=np.uint64)
    off = np.array([0, len(arr)])
    base = simhash_vector(arr, off)
    rng = np.random.default_rng(7)
    perm = arr[rng.permutation(len(arr))]
    assert simhash_vector(perm, off)[0] == base[0]


@settings(max_examples=100, derandomize=True)
@given(st.integers(min_value=0, max_value=2**64 - 1))
def test_splitmix_scalar_matches_array_path(x):
    """The scalar fallback and the in-place array path are the same function."""
    scalar = splitmix64(np.uint64(x))
    arr = splitmix64(np.array([x], dtype=np.uint64))[0]
    assert np.uint64(scalar) == arr


@settings(max_examples=50, derandomize=True)
@given(st.lists(st.text(alphabet="abcdef", min_size=1, max_size=6),
                min_size=0, max_size=30))
def test_token_hasher_cache_transparent(tokens):
    """Cached and cold hashers agree token-for-token (the memo never changes
    values, only cost)."""
    warm = TokenHasher(42)
    warm.hash_tokens(tokens)  # populate cache
    again = warm.hash_tokens(tokens)
    cold = TokenHasher(42).hash_tokens(tokens)
    assert np.array_equal(again, cold)


def _naive_minhash(all_s, offsets, seeds):
    mask = np.uint64(0xFFFFFFFFFFFFFFFF)
    out = np.full((len(offsets) - 1, len(seeds)), mask, dtype=np.uint64)
    for d in range(len(offsets) - 1):
        seg = all_s[offsets[d] : offsets[d + 1]]
        if len(seg) == 0:
            continue
        for i, s in enumerate(seeds):
            out[d, i] = splitmix64(seg ^ s).min()
    return out


def _naive_simhash(toks, offsets, bits=64):
    out = np.zeros(len(offsets) - 1, dtype=np.uint64)
    for d in range(len(offsets) - 1):
        seg = toks[offsets[d] : offsets[d + 1]]
        if len(seg) == 0:
            continue
        v = np.uint64(0)
        for b in range(bits):
            signs = (((seg >> np.uint64(b)) & np.uint64(1)).astype(np.int64) * 2 - 1)
            if signs.sum() > 0:
                v |= np.uint64(1) << np.uint64(b)
        out[d] = v
    return out


def test_kernels_match_naive_on_adversarial_layouts():
    """Vectorized reduceat kernels vs per-doc naive loops, on the layouts that
    break naive reduceat indexing: trailing/leading/interleaved empty docs.
    (A trailing empty doc once truncated the previous doc's segment — found by
    the hypothesis estimator test above.)"""
    rng = np.random.default_rng(3)
    layouts = [[3, 5, 0], [3, 0, 0], [0, 4], [0, 0, 7], [2, 0, 3, 0], [1],
               [0, 1, 0], [5, 0]]
    for _ in range(10):
        sizes = rng.integers(0, 30, size=10)
        sizes[rng.choice(10, 3, replace=False)] = 0
        layouts.append(list(sizes))
    seeds = perm_seeds(37, 42)
    for sizes in layouts:
        offsets = np.concatenate(([0], np.cumsum(sizes))).astype(np.int64)
        data = rng.integers(0, 2**63, size=int(offsets[-1]), dtype=np.int64).astype(
            np.uint64
        )
        assert np.array_equal(
            minhash_matrix(data, offsets, seeds, chunk=8),
            _naive_minhash(data, offsets, seeds),
        ), f"minhash mismatch at layout {sizes}"
        assert np.array_equal(
            simhash_vector(data, offsets), _naive_simhash(data, offsets)
        ), f"simhash mismatch at layout {sizes}"


def test_config_fingerprint_tracks_semantics():
    """Any dedup-semantics knob change MUST change the fingerprint (stage-table
    resume safety); execution-only knobs must NOT."""
    base = DedupConfig()
    assert DedupConfig(shingle_k=7).fingerprint() != base.fingerprint()
    assert DedupConfig(jaccard_threshold=0.9).fingerprint() != base.fingerprint()
    assert DedupConfig(minhash_seed=1).fingerprint() != base.fingerprint()
    # shuffle width is execution tuning, not semantics: a resume at another
    # parallelism reuses the same stage tables
    same_sem = DedupConfig(shuffle_partitions=7, signature_partitions=9)
    assert same_sem.fingerprint() == base.fingerprint()
