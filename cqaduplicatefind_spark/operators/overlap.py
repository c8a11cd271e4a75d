"""Exact overlapping-span pass — the north_star's "suffix-array substring pass for
exact overlapping spans", in two parts:

1. **Corpus-level candidate discovery** (``span_candidates``): which pairs of
   documents share ANY exact contiguous token run of length >= ``min_overlap_span``
   — including pairs whose set-Jaccard sits far below the LSH collision curve (a
   page embedded in a boilerplate shell), which MinHash/SimHash candidate
   generation never surfaces. Implemented with **winnowing fingerprints**
   (Schleimer, Wilkerson, Aiken: "Winnowing: Local Algorithms for Document
   Fingerprinting", SIGMOD 2003): rolling L-gram hashes, keep each w-window's
   minimum; any two documents sharing a run of >= L + w - 1 tokens are GUARANTEED
   to share a fingerprint. Fingerprints explode JVM-side into a bucket equi-join
   (same skew-capped kernel as the LSH bands), so the corpus-level "suffix array"
   is one groupBy — the Spark-native equivalent of the suffix-array scan over the
   concatenated corpus (Lee et al. 2021 use a suffix array for the same
   repeated-substring discovery; an equi-join on winnowed grams is the
   shuffle-friendly formulation).

2. **Exact verification** (``overlap_spans``): for each candidate pair, the exact
   length of the longest shared contiguous token run. A classical suffix array
   per concatenated pair would be per-pair O(n log n) Python; instead we
   binary-search the span length with vectorized rolling window hashes (the same
   order-sensitive k-window hash kernel the shingler uses — numpy, no per-token
   Python). Equivalent answer (window-hash collisions are ~2^-64), ~10x less
   constant cost, and every batch stays Arrow-sized.

The capability analog in the reference is the exact token-overlap "leaks" features
(``/root/reference/src/lstm-siamese/inputHandler.py:97-98``).

Dataflow: fingerprints are a narrow pandas-UDF map + explode; candidates shuffle
once on the fingerprint key; verification joins normalized docs on each pair side
(two id-key shuffles — same shape as verify), then ``mapInPandas`` computes spans
per Arrow batch.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import ArrayType, LongType

from cqaduplicatefind_spark import config
from cqaduplicatefind_spark.config import DedupConfig
from cqaduplicatefind_spark.functions.hashing import (  # noqa: F401 (re-exports)
    RollingHash,
    TokenHasher,
    winnow_kernel,
    winnow_params,
)
from cqaduplicatefind_spark.session import arrow_frame

SPAN_EDGE_SCHEMA = "id_a string, id_b string, overlap_span int"
# token-hash seed of the span verification's rolling window hashes
SPAN_HASH_SEED = 42


def longest_common_span(a: np.ndarray, b: np.ndarray) -> int:
    """Longest L with an exactly-equal contiguous L-token window in both arrays.

    Fast paths first: the longest common prefix/suffix lower-bounds L (and
    settles the dominant dedup case — one doc extends the other — in one
    vectorized compare). Then binary search over L with O(1)-per-window
    polynomial prefix hashes: each probe is two vector ops + a set intersect,
    independent of L (the previous O(n*L) shingle recombination per probe made
    span verification the pipeline's slowest stage)."""
    m = min(len(a), len(b))
    if m == 0:
        return 0
    # longest common prefix / suffix as a lower bound
    eq = a[:m] == b[:m]
    lcp = int(m if eq.all() else np.argmin(eq))
    eqs = a[len(a) - m:][::-1] == b[len(b) - m:][::-1]
    lcs = int(m if eqs.all() else np.argmin(eqs))
    lo = max(lcp, lcs)
    if lo == m:
        return m

    ra, rb = RollingHash(a), RollingHash(b)

    def has_common(L: int) -> bool:
        ha, hb = ra.windows(L), rb.windows(L)
        if len(ha) == 0 or len(hb) == 0:
            return False
        return bool(np.intersect1d(ha, hb, assume_unique=False).size)

    hi = m
    while lo < hi:
        mid = (lo + hi + 1) // 2
        if has_common(mid):
            lo = mid
        else:
            hi = mid - 1
    return lo


def overlap_spans(
    pairs: DataFrame, normalized: DataFrame, text_col: str = "norm_text"
) -> DataFrame:
    """(id_a, id_b) + docs(url, text_col) -> (id_a, id_b, overlap_span).

    ``overlap_span`` = longest exactly-shared token run (0 when either side empty).
    """
    a = normalized.select(
        F.col("url").alias("id_a"), F.col(text_col).alias("_text_a")
    )
    b = normalized.select(
        F.col("url").alias("id_b"), F.col(text_col).alias("_text_b")
    )
    joined = pairs.join(a, "id_a").join(b, "id_b").select(
        "id_a", "id_b", "_text_a", "_text_b"
    )

    def compute(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        hasher = TokenHasher(SPAN_HASH_SEED)
        for pdf in it:
            spans = []
            for ta, tb in zip(pdf["_text_a"], pdf["_text_b"]):
                va = hasher.hash_tokens(ta.split(" ")) if ta else np.empty(0, np.uint64)
                vb = hasher.hash_tokens(tb.split(" ")) if tb else np.empty(0, np.uint64)
                spans.append(longest_common_span(va, vb))
            yield pd.DataFrame(
                {"id_a": pdf["id_a"], "id_b": pdf["id_b"], "overlap_span": spans}
            )

    return joined.mapInPandas(compute, SPAN_EDGE_SCHEMA)


def make_winnow_udf(gram: int, window: int, hash_seed: int):
    """Arrow-batched winnowing: norm_text -> array<long> fingerprints. Narrow map;
    the explode + bucket join stay JVM-side."""

    @F.pandas_udf(ArrayType(LongType()))
    def winnow_udf(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        hasher = TokenHasher(hash_seed)
        for batch in it:
            out = []
            for t in batch:
                toks = t.split(" ") if t else []
                out.append(winnow_kernel(hasher.hash_tokens(toks), gram, window))
            yield pd.Series(out)

    return winnow_udf


def span_candidates(
    normalized: DataFrame,
    cfg: DedupConfig,
    group_col: str | None = None,
    assignments: DataFrame | None = None,
    persisted: list | None = None,
    assignments_count: int | None = None,
) -> DataFrame | None:
    """Corpus-level discovery over docs(url, norm_text): candidate pairs that
    MAY share an exact run of >= cfg.min_overlap_span tokens (guaranteed
    superset by the winnowing bound;
    verify with overlap_spans), or None when discovery short-circuits (no
    fingerprint bucket spans two clusters), so the common all-pure corpus
    never touches the pairing kernel. Hot fingerprints (boilerplate runs
    shared by thousands of docs) go through the same star-cap + salted
    sub-bucket guard as hot LSH bands — sharing a fingerprint only proves an
    L-token overlap, not the full min_span, so hot groups are heterogeneous
    under verification and need the sub-bucket pairing.

    When the input carries a precomputed ``span_fps`` column (the signature UDF
    emits it in the same tokenize pass as minhash/simhash), the explode is pure
    Catalyst — no second pass over the text.

    ``assignments`` (an (id, cluster_id) table) drops same-cluster pairs BEFORE
    the pair-dedup shuffle: the cluster id is joined once onto the fingerprint
    rows (n rows, pre-explosion of pairs) and rides the bucket join as a carried
    column, so on near-duplicate-heavy corpora — where almost every raw span
    pair is already co-clustered — the dedup shuffle and the per-pair verify
    only ever see the cross-cluster residue.

    ``persisted`` (a list): when given, the heterogeneous-bucket aggregate is
    cached so its two consumers (the count gate and the semi-join) share one
    corpus-wide pass, and the cached frame is appended for the caller to
    ``unpersist()`` once the candidates are materialized —
    ``exact_span_edges`` does exactly that. When omitted the aggregate simply
    recomputes (slower, but nothing is left cached): the default is
    leak-free for ad-hoc callers."""
    from cqaduplicatefind_spark.operators.candidates import (
        bucket_candidates,
        null_safe_group,
    )

    extras = (group_col,) if group_col else ()
    # NULL group values would ride the fp bucket key into EqualTo joins (the
    # het semi-join and the pairing self-join) and silently drop — same fix
    # as the LSH/SimHash families (see candidates.null_safe_group)
    normalized = null_safe_group(normalized, group_col)
    # a qualifying pair shares a contiguous run of >= min_overlap_span tokens,
    # so BOTH endpoints must have at least that many tokens: docs below the
    # span length can be dropped before the fingerprint explode (they still
    # emit fingerprints — any doc with >= gram tokens does — but can never
    # survive verification). Uses the signature stage's n_tokens when present;
    # falls back to a split-size count for bare-text callers.
    if "n_tokens" in normalized.columns:
        len_ok = F.col("n_tokens") >= cfg.min_overlap_span
    else:
        len_ok = F.size(F.split(F.col("norm_text"), " ")) >= cfg.min_overlap_span
    normalized = normalized.where(len_ok)
    if "span_fps" in normalized.columns:
        fp_col = F.col("span_fps")
    else:
        gram, window = winnow_params(cfg.min_overlap_span)
        fp_col = make_winnow_udf(gram, window, cfg.minhash_seed)(F.col("norm_text"))
    carry: tuple[str, ...] = ()
    pair_filter = None
    # project to (id, group, fingerprints) BEFORE any join/explode: the caller's
    # frame is typically the full signatures table, and shipping its minhash/
    # shingle/norm_text payloads through the assignments exchange would cost
    # ~KBs per row for columns this stage never reads
    docs = normalized.select(F.col("url"), *extras, fp_col.alias("_span_fps"))
    fp_col = F.col("_span_fps")
    if assignments is not None:
        # attach the cluster id at the DOC level, before the fingerprint explode:
        # joining it onto the exploded rows instead would shuffle ~fingerprints-
        # per-doc times more rows through the id join for the same information.
        # Unassigned endpoints are singletons: cluster id defaults to the id.
        # the purity aggregate and the cross-cluster pair filter only ever test
        # cluster EQUALITY, so carry an 8-byte hash of the cluster id instead
        # of the id string itself: cluster ids are urls (tens of bytes), and
        # at ~10^2 fingerprints per doc they dominate the aggregate's
        # exchange — hashing cuts that shuffle ~3x. Hashing EXECUTOR-SIDE
        # before the broadcast below also halves the broadcast row width
        # (join key string + 8-byte hash, not two strings). Cost: two distinct
        # clusters colliding in xxhash64 would wrongly prune their
        # buckets/pairs — a ~2^-64 per-pair recall risk, the same class (and
        # far below) the rolling-hash span verify already documents.
        asg = assignments.select(
            F.col("id").alias("url"), F.xxhash64("cluster_id").alias("_cl")
        )
        # ship the assignment table broadcast when it fits: the docs side of
        # this join carries the span_fps arrays, and an SMJ would shuffle the
        # whole slim-projected corpus just to look up cluster ids. Count-gated
        # with a shuffle-join fallback, same pattern as het_keys below: at web
        # scale the assignment table (every doc in some dup cluster) can be
        # corpus-sized and must not land on the driver. 1M rows of
        # (url, 8-byte hash) is ~tens of MB — within broadcast budget; the
        # het_keys gate below shares the threshold at a strictly narrower row.
        # ``assignments_count`` lets the caller pass a count it already has
        # (run_pipeline counts pre_clusters when materializing its cache) so
        # no extra job runs here.
        n_asg = (
            assignments_count if assignments_count is not None else asg.count()
        )
        if n_asg <= 1_000_000:
            asg = F.broadcast(asg)
        # unassigned endpoints are singletons: their cluster is themselves, so
        # the null fill hashes the doc's own id — identical to what the
        # pre-hash produces for a cluster id equal to the id
        docs = docs.join(asg, "url", "left").withColumn(
            "_cl", F.coalesce(F.col("_cl"), F.xxhash64(F.col("url")))
        )
    fps = docs.select(
        F.col("url").alias("id"),
        *extras,
        *(["_cl"] if assignments is not None else []),
        F.explode(fp_col).alias("fp"),
    )
    if assignments is not None:
        # drop CLUSTER-PURE buckets before the pairing join: a fingerprint bucket
        # whose members all share one cluster can emit no surviving pair, and on
        # near-duplicate-heavy corpora that is almost every bucket (a family of
        # near-identical docs shares nearly all its fingerprints and is already
        # one LSH cluster). HETEROGENEOUS buckets (>= 2 clusters) are found with
        # a partial aggregation over the slim (fp, cluster) projection — map-side
        # combine collapses a duplicate family's near-identical fingerprint sets
        # before the exchange, so this shuffles far less than sorting every
        # exploded row through a window. The aggregate doubles as the corpus
        # precheck: when NO bucket is heterogeneous (the common case once LSH
        # has clustered the near-dups), discovery short-circuits to an empty
        # frame and the pairing kernel, pair-dedup shuffle, and checkpoint are
        # never launched at all.
        het_keys = (
            fps.groupBy(*extras, "fp")
            .agg(F.min("_cl").alias("_lo"), F.max("_cl").alias("_hi"))
            .where(F.col("_lo") != F.col("_hi"))
            .select(*extras, "fp")
        )
        if persisted is not None:
            # persist the POST-aggregate rows (tiny — the het set is usually
            # boilerplate shells linking clusters) so the corpus-wide explode
            # + map-side-combined aggregate runs ONCE: without it the count
            # gate runs the job and the broadcast/join branch re-executes the
            # whole plan a second time. Persisting the exploded rows instead
            # would cache explosion-factor more data for the same saving.
            # Only with a caller-managed lifecycle (see docstring): an
            # unreleasable cache would leak per call in long sessions.
            het_keys = het_keys.persist()
        n_het = het_keys.count()
        if n_het == 0:
            if persisted is not None:
                het_keys.unpersist()
            return None
        if persisted is not None:
            persisted.append(het_keys)
        # semi-join the exploded rows on the heterogeneous bucket keys; ship it
        # broadcast — with a count-based fallback to a shuffle semi-join so an
        # adversarial corpus (cross-cluster boilerplate in every bucket) cannot
        # blow up the driver. Both read the persisted aggregate, not a rerun.
        het = F.broadcast(het_keys) if n_het <= 1_000_000 else het_keys
        fps = fps.join(het, [*extras, "fp"], "semi")
        carry = ("_cl",)

        def pair_filter(pairs: DataFrame) -> DataFrame:
            return pairs.where(F.col("_cl_a") != F.col("_cl_b"))

    return bucket_candidates(
        fps,
        "id",
        (*extras, "fp"),
        max_group=cfg.max_band_group,
        carry_cols=carry,
        pair_filter=pair_filter,
    )


def exact_span_edges(
    normalized: DataFrame,
    cfg: DedupConfig,
    exclude_assignments: DataFrame | None = None,
    group_col: str | None = None,
    persisted: list | None = None,
    assignments_count: int | None = None,
) -> DataFrame:
    """The pipeline's suffix-array-analog stage: (id_a, id_b, overlap_span) edges
    for pairs of docs(url, norm_text) sharing an exact contiguous run >=
    cfg.min_overlap_span tokens.

    Candidates come solely from winnowed-fingerprint discovery — by the winnowing
    bound that already covers EVERY qualifying pair; no seeding from the Jaccard
    path is needed. ``exclude_assignments`` (an (id, cluster_id) table, typically
    the connected components of the already-accepted LSH edges) drops candidate
    pairs whose endpoints are ALREADY in one cluster — such pairs contribute
    nothing new to connectivity, and on near-duplicate-heavy corpora they are
    the overwhelming majority of span candidates. The cluster id rides the
    bucket join as a carried column (see ``span_candidates``), so the exclusion
    happens before the pair-dedup shuffle and the per-pair verification only
    ever sees the genuinely-new cross-cluster containment pairs.

    The candidate set is localCheckpoint'ed (count + verify both read it);
    pass ``persisted`` (a list) to receive its ``CheckpointHandle``, whose
    ``unpersist()`` frees the checkpoint blocks once the returned spans are
    materialized — ``run_pipeline`` hands it to ``PipelineResult.persisted``
    so ``release()`` frees it. ``DataFrame.unpersist()`` does NOT release
    localCheckpoint blocks (it only uncaches cacheManager entries), so
    without the handle each call pins the checkpoint in executor storage for
    the session lifetime."""
    from cqaduplicatefind_spark.operators.connected_components import (
        local_checkpoint,
    )

    spark = normalized.sparkSession
    het_cached: list = []
    try:
        raw = span_candidates(
            normalized, cfg, group_col,
            assignments=exclude_assignments, persisted=het_cached,
            assignments_count=assignments_count,
        )
        if raw is None:
            # discovery short-circuited on the het-aggregate gate (no bucket
            # spans two clusters): no pairing kernel, no checkpoint, no count —
            # the span-free corpus pays exactly one aggregate job
            return arrow_frame(spark, SPAN_EDGE_SCHEMA)
        # materialize once; count + verify read it
        cands, handle = local_checkpoint(raw)
    finally:
        # the eager checkpoint materialized the candidate set (or the job
        # failed / short-circuited); either way the cached het-bucket aggregate
        # (see span_candidates) has no readers left
        for frame in het_cached:
            frame.unpersist()
    n = cands.count()
    if n == 0:
        # het buckets existed but every pair was same-cluster/capped away: skip
        # verification entirely. Without this the verify joins still shuffle
        # the whole corpus's normalized text on both pair sides just to probe
        # an empty stream. The empty result never reads cands again: free its
        # blocks now.
        handle.unpersist()
        return arrow_frame(spark, SPAN_EDGE_SCHEMA)
    if persisted is not None:
        persisted.append(handle)
    # few candidates (the usual case after same-cluster pruning): broadcast the
    # pair side so the doc joins stay exchange-free for the corpus table — the
    # driver-side analog of AQE's SMJ->BHJ rewrite, decided on the actual count
    pairs = F.broadcast(cands) if n <= config.DRIVER_MAX_ROWS else cands
    spans = overlap_spans(pairs, normalized)
    return spans.where(F.col("overlap_span") >= cfg.min_overlap_span)


