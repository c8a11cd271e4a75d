"""MinHash + SimHash signature kernels as Arrow-batched pandas UDFs.

Replaces the reference's candidate/scoring core (BM25Okapi index at
``/root/reference/src/BM25DuplicateRetriever.py:46-47``, Doc2Vec cosine at
``src/DuplicateRetriever.py:47``) with deterministic sketches:

- **MinHash** (Broder 1997): ``num_perms`` (default 128) permutations approximated by
  splitmix64-mixed seed XORs over k-token shingle hashes; ``sig[i] = min_x
  mix(shingle(x) ^ seed_i)``. E[fraction of equal lanes] = Jaccard(shingles_a,
  shingles_b).
- **SimHash** (Charikar 2002): 64-bit; sum ±1 per bit over token hashes weighted by
  term frequency; Hamming distance approximates cosine distance of the TF vectors —
  the deterministic stand-in for the reference's Doc2Vec "near in embedding space".

Everything inside the UDF is numpy matrix math over one flat array per Arrow batch —
no per-row Python on the hot path (BASELINE.json ``input_hint``). The UDF is a narrow
map: zero shuffle; at cluster scale it parallelizes over input file splits.
"""

from __future__ import annotations

from dataclasses import replace
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from cqaduplicatefind_spark.config import SIMHASH_BITS, SIMHASH_SEED, DedupConfig
from cqaduplicatefind_spark.functions.hashing import (
    _SM_GAMMA,
    TokenHasher,
    perm_seeds,
    shingle_hashes,
    splitmix64,
    splitmix64_inplace,
    winnow_kernel,
    winnow_params,
)
from cqaduplicatefind_spark.functions.html_strip import strip_value
from cqaduplicatefind_spark.functions.normalize import _normalize_memo

_U64 = np.uint64
_MAX_U64 = np.uint64(0xFFFFFFFFFFFFFFFF)

SIGNATURE_FIELDS = StructType(
    [
        StructField("minhash", ArrayType(LongType()), False),
        StructField("simhash", LongType(), False),
        StructField("n_tokens", IntegerType(), False),
        StructField("n_shingles", IntegerType(), False),
        # distinct shingle hashes — exact-Jaccard verification evidence. At cluster
        # scale this column lives only in the signatures stage table and is pruned
        # from every scan that doesn't verify.
        StructField("shingles", ArrayType(LongType()), False),
        # winnowed exact-span fingerprints (the suffix-array-analog pass's
        # discovery keys), computed in the SAME tokenize pass; empty arrays when
        # cfg.span_pass is off. Pruned like shingles.
        StructField("span_fps", ArrayType(LongType()), False),
    ]
)


def minhash_matrix(
    all_shingles: np.ndarray, offsets: np.ndarray, seeds: np.ndarray, chunk: int = 32
) -> np.ndarray:
    """(num_docs, num_perms) uint64 MinHash signatures.

    ``all_shingles``: flat uint64 shingle hashes for the whole batch;
    ``offsets``: start index per doc (len = num_docs + 1). Empty docs get MAX_U64
    lanes (never collide). Perms are processed in chunks to bound the (chunk, S)
    intermediate at a few MB regardless of batch size.
    """
    n_docs = len(offsets) - 1
    n_perms = len(seeds)
    sig = np.full((n_docs, n_perms), _MAX_U64, dtype=np.uint64)
    if len(all_shingles) == 0:
        return sig
    starts = offsets[:-1]
    nonempty = offsets[1:] > starts
    # reduceat over NON-EMPTY docs' starts only: they are strictly increasing and
    # < len, so every segment boundary is exact. (Clamping empty docs' starts to
    # len-1 — the tempting one-liner — silently truncates the PREVIOUS doc's
    # segment whenever an empty doc sits at the end of the batch.)
    valid_starts = starts[nonempty]
    scratch = np.empty((len(seeds[:chunk]), len(all_shingles)), dtype=np.uint64)
    for c0 in range(0, n_perms, chunk):
        seed_chunk = seeds[c0 : c0 + chunk]
        # one buffer + in-place finalizer: the naive splitmix64 expression allocates
        # ~10 (chunk, S) temporaries, and with many concurrent workers the kernel
        # becomes DRAM-bound instead of compute-bound (kills core-count scaling)
        mixed = scratch[: len(seed_chunk)]
        np.bitwise_xor(seed_chunk[:, None], all_shingles[None, :], out=mixed)
        with np.errstate(over="ignore"):
            np.add(mixed, _SM_GAMMA, out=mixed)
        splitmix64_inplace(mixed)
        mins = np.minimum.reduceat(mixed, valid_starts, axis=1)
        sig[np.flatnonzero(nonempty), c0 : c0 + chunk] = mins.T
    return sig


def simhash_vector(
    all_tokens: np.ndarray, offsets: np.ndarray, bits: int = 64
) -> np.ndarray:
    """(num_docs,) uint64 SimHash over flat token hashes (TF-weighted by repetition)."""
    n_docs = len(offsets) - 1
    out = np.zeros(n_docs, dtype=np.uint64)
    if len(all_tokens) == 0:
        return out
    starts = offsets[:-1]
    counts = offsets[1:] - starts
    nonempty = counts > 0
    # bit-sliced popcount: bit b of token t lands at [t, b] (little-endian byte
    # order matches (tok >> b) & 1 on little-endian hosts). uint8 bit matrix +
    # int64-accumulated reduceat keeps traffic at ~64B/token instead of the
    # ~2.3KB/token the (T, bits) int32 sign matrix costs — the kernel must stay
    # compute-bound for throughput to scale with executor cores.
    bit_mat = np.unpackbits(
        all_tokens.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
    )[:, :bits]
    # reduceat over non-empty docs' starts only (see minhash_matrix: clamping
    # empty trailing starts truncates the previous doc's segment)
    pop = np.add.reduceat(bit_mat, starts[nonempty], axis=0, dtype=np.int64)
    shifts = np.arange(bits, dtype=np.uint64)
    # sign-sum = 2*pop - count; bit set iff sign-sum > 0
    packed = (
        (2 * pop > counts[nonempty, None]).astype(np.uint64) << shifts[None, :]
    )
    out[np.flatnonzero(nonempty)] = np.bitwise_or.reduce(packed, axis=1)
    return out


# per numpy-kernel invocation: sized so the (perm_chunk, S) minhash buffer
# (32 x S x 8B, ~2MB at S=8k) and its scratch stay cache-resident per worker —
# a DRAM-resident working set makes concurrent workers contend for memory
# bandwidth and flattens the core-count scaling curve
_TOKEN_BUDGET = 8_192


def compute_signatures_pdf(
    norm_texts: pd.Series, cfg: DedupConfig, hasher: TokenHasher
) -> pd.DataFrame:
    """One Arrow batch of normalized texts -> signature frame. Splits the batch into
    doc groups of bounded total token count so kernel intermediates stay small."""
    texts = norm_texts.fillna("")
    sizes = texts.map(lambda t: t.count(" ") + 1 if t else 0).to_numpy()
    pieces: list[pd.DataFrame] = []
    start = 0
    running = 0
    for i, s in enumerate(sizes):
        running += int(s)
        if running >= _TOKEN_BUDGET:  # chunk is non-empty: start <= i always
            pieces.append(_compute_chunk(texts.iloc[start : i + 1], cfg, hasher))
            start = i + 1
            running = 0
    if start < len(texts) or len(texts) == 0:
        pieces.append(_compute_chunk(texts.iloc[start:], cfg, hasher))
    return pd.concat(pieces, ignore_index=True) if len(pieces) > 1 else pieces[0]


def _compute_chunk(
    texts: pd.Series, cfg: DedupConfig, hasher: TokenHasher
) -> pd.DataFrame:
    token_lists = [(t.split(" ") if t else []) for t in texts]
    tok_counts = np.array([len(t) for t in token_lists], dtype=np.int64)
    flat_tokens = [tok for toks in token_lists for tok in toks]
    tok_hashes = hasher.hash_tokens(flat_tokens)
    tok_offsets = np.concatenate(([0], np.cumsum(tok_counts)))

    # shingles per doc (vectorized per doc over the flat array slices)
    shingle_arrays = [
        shingle_hashes(tok_hashes[tok_offsets[i] : tok_offsets[i + 1]], cfg.shingle_k)
        for i in range(len(token_lists))
    ]
    shingle_counts = np.array([len(a) for a in shingle_arrays], dtype=np.int64)
    all_shingles = (
        np.concatenate(shingle_arrays) if shingle_arrays else np.empty(0, dtype=np.uint64)
    )
    shingle_offsets = np.concatenate(([0], np.cumsum(shingle_counts)))

    seeds = perm_seeds(cfg.num_perms, cfg.minhash_seed)
    sig = minhash_matrix(all_shingles, shingle_offsets, seeds)
    # SimHash over shingles, not unigrams: unigram SimHash degenerates on
    # low-vocabulary corpora (unrelated docs land at Hamming ~0); shingle-space
    # keeps near-dups close while separating merely topic-similar docs
    # (Henzinger 2006 uses shingle-based features for exactly this reason).
    sim = simhash_vector(
        splitmix64(all_shingles ^ _U64(SIMHASH_SEED)),
        shingle_offsets,
        SIMHASH_BITS,
    )

    distinct_shingles = [
        np.unique(
            all_shingles[shingle_offsets[i] : shingle_offsets[i + 1]]
        ).astype(np.int64)
        for i in range(len(token_lists))
    ]

    if cfg.span_pass and cfg.min_overlap_span > 0:
        gram, window = winnow_params(cfg.min_overlap_span)
        span_fps = [
            winnow_kernel(
                tok_hashes[tok_offsets[i] : tok_offsets[i + 1]], gram, window
            )
            for i in range(len(token_lists))
        ]
    else:
        span_fps = [np.empty(0, dtype=np.int64)] * len(token_lists)

    return pd.DataFrame(
        {
            "minhash": list(sig.astype(np.int64)),  # reinterpret-safe: order not used
            "simhash": sim.astype(np.int64),
            "n_tokens": tok_counts.astype(np.int32),
            "n_shingles": shingle_counts.astype(np.int32),
            "shingles": distinct_shingles,
            "span_fps": span_fps,
        }
    )


def make_sign_udf(cfg: DedupConfig, use_html: bool = False):
    """The sign stage as one iterator pandas UDF bound to a frozen config (it
    travels by closure: identical on every executor, no global state): page
    text, or UTF-8 HTML when ``use_html``, is stripped, normalized (unless
    ``cfg.normalize_input`` is False) and signed in the same worker pass, so
    the document crosses the Arrow boundary once. The normalize memo is per
    worker process; the ``TokenHasher`` is built once per task. The struct
    carries ``span_fps`` and ``norm_text`` only when the span pass is on;
    nothing else reads them."""
    span = cfg.span_pass and cfg.min_overlap_span > 0
    fields = [f for f in SIGNATURE_FIELDS.fields if span or f.name != "span_fps"]
    if span:
        fields.append(StructField("norm_text", StringType(), True))

    @F.pandas_udf(StructType(fields))
    def sign_udf(it: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        hasher = TokenHasher(cfg.minhash_seed)  # token-hash cache, one per task
        for text in it:
            if use_html:
                text = text.map(strip_value)
            if cfg.normalize_input:
                text = text.map(_normalize_memo)
            sig = compute_signatures_pdf(text, cfg, hasher)
            if span:
                sig["norm_text"] = text.to_numpy()
            else:
                del sig["span_fps"]
            yield sig

    # deterministic, but marked otherwise so the optimizer can neither push a
    # filter on its output below it nor inline it into several expressions:
    # either would evaluate the whole sign stage a second time
    return sign_udf.asNondeterministic()


def sign_pages(
    pages: DataFrame,
    cfg: DedupConfig,
    source: str = "text",
    use_html: bool = False,
    keep: tuple[str, ...] = ("url",),
) -> DataFrame:
    """pages -> ``keep`` + the sign UDF's columns (minhash, simhash, n_tokens,
    n_shingles, shingles[, span_fps, norm_text]) from one Python eval over
    ``source``. Narrow map, no shuffle."""
    sign = make_sign_udf(cfg, use_html)
    return pages.select(*keep, sign(F.col(source)).alias("_sig")).select(
        *keep, "_sig.*"
    )


def with_signatures(
    df: DataFrame, cfg: DedupConfig, norm_col: str = "norm_text"
) -> DataFrame:
    """docs(already-normalized ``norm_col``) -> docs + minhash/simhash/n_tokens/
    n_shingles/shingles columns."""
    return sign_pages(
        df, replace(cfg, normalize_input=False, span_pass=False), norm_col,
        keep=tuple(df.columns),
    )
