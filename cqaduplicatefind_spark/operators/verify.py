"""Per-pair verification & scoring of candidate edges.

Replaces the reference's per-pair neural scorer (Siamese BiLSTM at
``/root/reference/src/lstm-siamese/model.py:34-123``, token-set "leaks" features at
``src/lstm-siamese/inputHandler.py:97-98``) with deterministic, JVM-side measures.
Every candidate is verified exactly; no signature estimate filters a pair:

- **exact shingle Jaccard** (``array_intersect``/``array_union`` over the distinct
  shingle-hash arrays) — the precision gate; the reference's leaks feature is exactly
  this numerator (SURVEY.md U3). ``est_jaccard`` carries the same value;
- **SimHash Hamming distance** (``bit_count(xor)``);
- **containment** (|A ∩ B| / min(|A|,|B|)) — catches the substring-containment pairs
  the suffix/overlap pass targets (a page embedded in a boilerplate shell has low
  Jaccard but high containment).

Scale: two shuffle joins (edges x docs on each side) on the doc id; everything else
is whole-stage-codegen expressions. The doc-side projection carries only
(url, simhash, n_shingles, shingles) — Catalyst prunes the rest at the scan.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from cqaduplicatefind_spark.config import SIMHASH_BITS, DedupConfig
from cqaduplicatefind_spark.operators.candidates import bit_count

# score_pairs / accept_edges output schemas: frames built on the driver (the
# driver pair stage, the stream's driver path, empty-matches frames) must
# stay in lockstep with them
SCORED_SCHEMA = (
    "id_a string, id_b string, est_jaccard double, hamming int, "
    "jaccard double, containment double"
)
EDGE_SCHEMA = (
    "id_a string, id_b string, jaccard double, est_jaccard double, "
    "hamming int, containment double"
)


def _doc_side(signatures: DataFrame, suffix: str) -> DataFrame:
    return signatures.select(
        F.col("url").alias(f"id_{suffix}"),
        *[F.col(c).alias(f"{c}_{suffix}")
          for c in ("simhash", "n_shingles", "shingles")],
    )


def score_pairs(
    pairs: DataFrame,
    signatures: DataFrame,
    cfg: DedupConfig,
    extra_scorers: dict | None = None,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id_a, id_b) -> scored pairs.

    Output columns: id_a, id_b, est_jaccard, hamming, jaccard, containment
    (+ one column per ``extra_scorers`` entry, then ``keep_cols`` of
    ``pairs``). ``jaccard``/``containment`` are exact set measures over the
    signature table's ``shingles`` column; every candidate is scored, and
    ``est_jaccard`` is the exact Jaccard.

    ``extra_scorers`` is the pluggable per-pair scorer seam (the capability analog
    of the reference's alternative classifiers, e.g.
    ``src/NBAndXGBCountVectorClassifier.py:13-23``): a mapping
    ``name -> callable(scored DataFrame) -> Column`` evaluated after the built-in
    measures, each appended as an output column (usable as ``score_col`` in
    ``retrieve_duplicates`` for re-ranking). The scored frame it sees carries
    each side's ``simhash``, ``n_shingles`` and ``shingles`` as
    ``<col>_a``/``<col>_b``.
    """
    # no join-strategy hint: an A/B at 600k docs measured shuffle_hash hints on
    # the doc sides as indistinguishable from sort-merge end-to-end (host-drift
    # noise dominated), so the default stays
    scored = pairs.join(_doc_side(signatures, "a"), "id_a").join(
        _doc_side(signatures, "b"), "id_b"
    )

    # empty-shingle docs share simhash=0; force max Hamming so the SimHash route
    # never links them
    valid_sim = (F.col("n_shingles_a") > 0) & (F.col("n_shingles_b") > 0)
    inter = F.size(F.array_intersect("shingles_a", "shingles_b"))
    union = F.size(F.array_union("shingles_a", "shingles_b"))
    min_sz = F.least(F.size("shingles_a"), F.size("shingles_b"))
    scored = scored.withColumns({
        "hamming": F.when(
            valid_sim,
            F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))),
        ).otherwise(F.lit(SIMHASH_BITS)),
        "jaccard": F.when(
            union > 0, inter.cast("double") / union.cast("double")
        ).otherwise(F.lit(0.0)),
        "containment": F.when(
            min_sz > 0, inter.cast("double") / min_sz.cast("double")
        ).otherwise(F.lit(0.0)),
    }).withColumn("est_jaccard", F.col("jaccard"))

    extra_names = []
    for name, scorer in (extra_scorers or {}).items():
        scored = scored.withColumn(name, scorer(scored))
        extra_names.append(name)

    return scored.select(
        "id_a", "id_b", "est_jaccard", "hamming", "jaccard", "containment",
        *extra_names,
        *keep_cols,
    )


def accept_condition(cfg: DedupConfig):
    """The boolean accept column over a scored frame: exact Jaccard >= threshold,
    OR near-zero Hamming (SimHash path, ``cfg.accept_hamming``), OR high
    containment (substring pairs, ``cfg.containment_accept``). Exposed so callers
    can derive the REJECTED side of the same decision (the rescue round's orphan
    probe) as a filter over the persisted scored frame instead of re-joining."""
    accept = F.col("jaccard") >= F.lit(cfg.jaccard_threshold)
    if cfg.accept_hamming:
        accept = accept | (F.col("hamming") <= F.lit(cfg.hamming_k))
    if cfg.containment_accept is not None:
        accept = accept | (F.col("containment") >= F.lit(cfg.containment_accept))
    return accept


def driver_score_pairs(
    pairs: list[tuple[str, str]], payload: pa.Table, cfg: DedupConfig
) -> dict[str, np.ndarray]:
    """``score_pairs`` on the driver: its columns, same
    doubles, as numpy arrays, for canonical ``pairs`` and one (url, simhash,
    n_shingles, shingles) ``payload`` row per url. A pair with an endpoint
    missing from ``payload`` drops out, as in a join."""
    row = {u: i for i, u in enumerate(payload["url"].to_pylist())}
    pairs = [(a, b) for a, b in pairs if a in row and b in row]
    ia = np.array([row[a] for a, _ in pairs], dtype=np.int64)
    ib = np.array([row[b] for _, b in pairs], dtype=np.int64)

    sim = payload["simhash"].to_numpy()
    n_sh = payload["n_shingles"].fill_null(0).to_numpy()
    # empty-shingle docs share simhash=0: the SimHash route never links them
    hamming = np.where(
        (n_sh[ia] > 0) & (n_sh[ib] > 0), bit_count(sim[ia] ^ sim[ib]),
        SIMHASH_BITS,
    ).astype(np.int32)

    shingles = payload["shingles"].combine_chunks()
    offs = shingles.offsets.to_numpy()
    vals = shingles.values.to_numpy(zero_copy_only=False)
    # shingle sets of the pairs' endpoints only
    sets = {
        r: np.unique(vals[offs[r]:offs[r + 1]])
        for r in np.unique(np.r_[ia, ib]).tolist()
    }
    n_set = np.array([sets[r].size for r in ia.tolist()], dtype=np.int64)
    n_set_b = np.array([sets[r].size for r in ib.tolist()], dtype=np.int64)
    inter = np.array(
        [np.intersect1d(sets[a], sets[b], assume_unique=True).size
         for a, b in zip(ia.tolist(), ib.tolist())],
        dtype=np.int64,
    )
    union = n_set + n_set_b - inter
    min_sz = np.minimum(np.diff(offs)[ia], np.diff(offs)[ib])
    with np.errstate(divide="ignore", invalid="ignore"):
        jaccard = np.where(union > 0, inter / union, 0.0)
        containment = np.where(min_sz > 0, inter / min_sz, 0.0)
    return {
        "id_a": np.array([a for a, _ in pairs], dtype=object),
        "id_b": np.array([b for _, b in pairs], dtype=object),
        "est_jaccard": jaccard,
        "hamming": hamming,
        "jaccard": jaccard,
        "containment": containment,
    }


def driver_accept(scored: dict[str, np.ndarray], cfg: DedupConfig) -> np.ndarray:
    """``accept_condition`` over ``driver_score_pairs``' columns: a bool mask."""
    accept = scored["jaccard"] >= cfg.jaccard_threshold
    if cfg.accept_hamming:
        accept |= scored["hamming"] <= cfg.hamming_k
    if cfg.containment_accept is not None:
        accept |= scored["containment"] >= cfg.containment_accept
    return accept


def accept_edges(scored: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Thresholded duplicate edges — ``accept_condition`` applied to ``scored``."""
    return scored.where(accept_condition(cfg)).select(
        "id_a", "id_b", "jaccard", "est_jaccard", "hamming", "containment"
    )
