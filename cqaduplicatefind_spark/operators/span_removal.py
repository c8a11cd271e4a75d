"""Exact duplicated-substring REMOVAL — the cleaned-corpus output of the
suffix-array tier (Lee et al. 2022, "Deduplicating Training Data Makes Language
Models Better": remove every substring of >= N tokens that repeats across the
corpus, keeping one occurrence).

The span-discovery pass (``operators/overlap.py``) links documents that share a
long exact run; this module emits the corpus AFTER removal, under a
deterministic ownership rule that both Spark and a relational oracle can state
identically:

- an ``L``-token gram is *shared* when it occurs in >= 2 distinct documents;
- its *owner* is the smallest document id containing it;
- in every non-owner document, all token positions covered by a shared gram
  are removed.

The guarantee is dominance-based and per GRAM, not per run: tokens are only
ever removed in favor of a strictly smaller document id, so a document that
owns every shared gram it contains keeps byte-identical text (the corpus's
minimum id always does, and re-running removal is a no-op on such owners —
the north rule's byte-identical-text invariant applies to them). When
overlapping shared runs have DIFFERENT owners, a document can own one run
yet lose part of it to a smaller doc owning an overlapping run — removal
still never deletes anything a smaller id doesn't hold, but no single
intact copy of that particular run is promised. Within-owner repeats are
intentionally kept (the owner is never rewritten on their account).

Scale shape (100 TB): the gram frame is one row per token position — the honest
cost of EXACT substring dedup (the winnow-sampled discovery pass exists
precisely because this frame is ~10x a fingerprint frame; callers that can
tolerate discovery-first gating should restrict ``docs`` to the union of
span-candidate documents from ``exact_span_edges`` before calling). From there:
one map-side-combined groupBy(gh) for owners (min/max in one pass, shared iff
they differ — no countDistinct), one equi-join grams⋈owners (AQE broadcasts the
owner side when small: shared grams are a thin slice of all grams), one
collect_set per AFFECTED document, and an Arrow-batched rebuild over affected
documents only — untouched documents bypass Python entirely via an anti-join
pass-through. No window functions, no driver collect.

Gram equality is by 64-bit polynomial rolling hash over seeded blake2b token
hashes (``functions/hashing.py``); a cross-document collision would need two of
the corpus's distinct grams to collide in 2^64 space (~1e-10 at 1e4 grams —
negligible, and the same tradeoff the discovery pass already makes).

Reference analog: kkrasika/CQADuplicateFind has no substring removal (its
near-dup handling is per-pair scoring, src/DuplicateRetriever.py); this is part
of the training-data-pipeline surface the brief adds on top of parity.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T
from pyspark.sql.types import ArrayType, LongType

from cqaduplicatefind_spark.functions.hashing import RollingHash, TokenHasher


def make_gram_hash_udf(gram: int, hash_seed: int):
    """Arrow-batched: text -> array<long> of rolling L-gram hashes, one per start
    position (empty when the document is shorter than ``gram`` tokens). Narrow
    map — the explode and every join stay JVM-side."""

    @F.pandas_udf(ArrayType(LongType()))
    def gram_hashes(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        hasher = TokenHasher(hash_seed)
        for batch in it:
            out = []
            for t in batch:
                toks = t.split(" ") if t else []
                out.append(
                    RollingHash(hasher.hash_tokens(toks)).windows(gram).view(np.int64)
                )
            yield pd.Series(out)

    return gram_hashes


def _make_rebuild(min_span: int, id_field: str, text_field: str):
    """mapInPandas kernel: (id, text, _starts) -> (id, clean_text, n_removed).
    Coverage union via a diff array — O(tokens) per doc regardless of how many
    shared grams overlap."""

    def rebuild(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            cleans, removed = [], []
            for text, starts in zip(pdf[text_field], pdf["_starts"]):
                toks = text.split(" ") if text else []
                n = len(toks)
                diff = np.zeros(n + 1, dtype=np.int64)
                s = np.asarray(starts, dtype=np.int64)
                # drop start positions beyond this text: the operator expects
                # one row per id, but a contract violation (duplicate ids with
                # different-length texts fanning out through the starts join)
                # must degrade to ignoring the out-of-range starts, not kill
                # the whole job with an IndexError in the Arrow worker
                s = s[s < n] if n else s[:0]
                np.add.at(diff, s, 1)
                np.add.at(diff, np.minimum(s + min_span, n), -1)
                cut = np.cumsum(diff[:n]) > 0
                cleans.append(" ".join(t for t, c in zip(toks, cut) if not c))
                removed.append(int(cut.sum()))
            yield pd.DataFrame(
                {
                    id_field: pdf[id_field],
                    "clean_text": cleans,
                    "n_removed": pd.Series(removed, dtype="int32"),
                }
            )

    return rebuild


def remove_duplicate_spans(
    docs: DataFrame,
    min_span: int = 50,
    id_col: str = "url",
    text_col: str = "text",
    hash_seed: int = 42,
    persisted: list | None = None,
) -> DataFrame:
    """Corpus after exact-substring removal: ``(id_col, clean_text, n_removed)``,
    one row per input document. ``clean_text`` is the whitespace re-join of the
    tokens NOT covered by any shared ``min_span``-gram owned by a smaller doc id;
    ``n_removed`` counts removed tokens (0 for owners, short docs, and documents
    sharing nothing). Expects ONE ROW PER ``id_col`` (run the URL tier's
    latest-capture collapse first, like ``remove_boilerplate_lines``):
    duplicate ids fan out through the per-id start-list join, and a shorter
    duplicate's rebuild ignores the longer copy's out-of-range starts rather
    than crashing.

    The gram frame feeds two consumers (the owner aggregate and the probe
    join), so the tokenize+rolling-hash UDF runs twice — one extra CPU pass
    over the corpus, no extra shuffle; at corpus scale that recompute is
    cheaper than materializing one row per token position. The per-affected-
    document start lists, by contrast, are TINY and are localCheckpoint'ed so
    the rebuild and pass-through branches share one computation; pass
    ``persisted`` (a list) to receive a handle whose ``unpersist()`` frees the
    checkpoint blocks once the returned frame is materialized (same contract
    as ``overlap.exact_span_edges``). A corpus with no cross-document shared
    run short-circuits to pure pass-through after one aggregate+join job."""
    from cqaduplicatefind_spark.operators.connected_components import (
        local_checkpoint,
    )

    base = docs.select(id_col, text_col)
    # posexplode_OUTER + null filter, not plain posexplode: the inner generate
    # makes Catalyst infer a `size(udf(text)) > 0` pre-filter
    # (InferFiltersFromGenerate), which evaluates the gram UDF a SECOND time
    # per row; the outer variant infers nothing, so the tokenize+hash pass
    # runs once and short docs cost one null row each instead
    grams = (
        base.withColumn("_ghs", make_gram_hash_udf(min_span, hash_seed)(text_col))
        .select(id_col, F.posexplode_outer("_ghs").alias("_pos", "_gh"))
        .where(F.col("_gh").isNotNull())
    )
    # shared iff min(id) != max(id): one map-side-combined pass, no countDistinct
    owners = (
        grams.groupBy("_gh")
        .agg(F.min(id_col).alias("_owner"), F.max(id_col).alias("_maxid"))
        .where(F.col("_owner") != F.col("_maxid"))
        .select("_gh", "_owner")
    )
    covered = (
        grams.join(owners, "_gh")
        .where(F.col(id_col) > F.col("_owner"))
        .select(id_col, "_pos")
    )
    # tiny (affected docs only); both union branches read it
    starts, handle = local_checkpoint(covered.groupBy(id_col).agg(
        F.sort_array(F.collect_set("_pos")).alias("_starts")
    ))
    stats = starts.agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.size("_starts")).alias("pos")
    ).first()
    n_affected, total_positions = stats.n, stats.pos or 0
    passthrough = F.col(text_col).alias("clean_text"), F.lit(0).cast("int").alias(
        "n_removed"
    )
    if n_affected == 0:
        handle.unpersist()
        return base.select(id_col, *passthrough)
    if persisted is not None:
        persisted.append(handle)
    out_schema = T.StructType(
        [
            base.schema[id_col],
            T.StructField("clean_text", T.StringType()),
            T.StructField("n_removed", T.IntegerType()),
        ]
    )
    # affected docs are usually a thin slice: broadcast the start lists so
    # neither the rebuild join nor the pass-through anti-join shuffles the
    # corpus. The gate must bound BYTES, not rows — _starts are variable-
    # length position arrays, so a dup-heavy corpus can pack gigabytes into
    # few rows; cap the total position count (~8 B each -> <=80 MB) as well
    # as the row count (shuffle fallback above either)
    small = n_affected <= 1_000_000 and total_positions <= 10_000_000
    build = F.broadcast(starts) if small else starts
    anti = F.broadcast(starts.select(id_col)) if small else starts.select(id_col)
    affected = base.join(build, id_col).mapInPandas(
        _make_rebuild(min_span, id_col, text_col), out_schema
    )
    untouched = base.join(anti, id_col, "left_anti").select(id_col, *passthrough)
    return affected.unionByName(untouched)
