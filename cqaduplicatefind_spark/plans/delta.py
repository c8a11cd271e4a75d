"""Batch delta-dedup: match a new crawl increment against an accumulated corpus
index WITHOUT re-pairing the corpus.

The production monthly-recrawl path. The accumulated corpus is presumed already
deduplicated, so ``seed_index`` only builds the band/signature store from it —
one signature scan plus two parquet writes, never a self-join (and zero corpus
work when the store already exists from a previous increment or a streaming
run). Each increment then pays pairing work bounded by the LSH buckets it
actually touches (``IncrementalDedup``'s touched-bucket semi-join — broadcast
while the increment's distinct key set fits ``BROADCAST_TOUCHED_MAX``, plain
shuffle semi-join beyond that, where an increment touching most buckets makes
the wide join the right plan anyway), never O(corpus). The O(index) stats
recovery count the streaming path pays once per stream is never paid here
(``count_index_stats=False``: a fresh processor per increment would re-pay
it every month), so an increment over an existing store reports
``n_index_band_rows`` as None.

The store (``bands/`` ``sigs/`` ``matches/`` under one work dir) is the
streaming matcher's: ``streaming/store.py`` owns its layout, file sizing,
``src_batch`` row tags and crash-window protocol, so batch increments,
streaming micro-batches, and this API interoperate on ONE index. Pages carry
``url`` and ``text`` columns, as for ``run_pipeline``. Batch-id
convention: seeds take NEGATIVE ids (default -1 — Structured Streaming numbers
its micro-batches from 0, so a non-negative seed id would be silently
excluded-then-OVERWRITTEN by the colliding micro-batch); increments and
micro-batches take disjoint non-negative ids.

Identity precondition: increment ids must be NEW ids. Recrawls of an already
indexed url are the URL tier's job (``canonical_url`` +
``latest_capture_per_url`` run BEFORE content dedup) — the pairing kernel
drops self-pairs on id, so an increment re-using an indexed id would neither
match its own older version nor replace its stored payload. The index holds
every doc it has SEEN, including increment docs the survivor rule dropped —
deliberate: a later doc may exceed threshold only against the dropped copy
(Jaccard is not transitive), so indexing survivors-only would lose recall.
Consequently an edge endpoint is not necessarily a surviving corpus member;
resolve representatives through the survivor rule, not the raw edge list.

Survivor semantics (cluster-consistent — the flagship's transitive-closure rule
scoped to the increment): connected components over the increment's accepted
edges; a component touching ANY corpus doc is already represented, so all its
new members drop; a new-only component keeps its min-id member; an increment
doc matching nothing survives. Deterministic, independent of partitioning.

Reference capability analog: the incremental partial-progress builder at
/root/reference/src/archive/MyReader2.py:16,41-42 re-runs pairwise similarity
for delta rows against the FULL frame in-process; here the corpus side is never
re-paired at all.
"""

from __future__ import annotations

from dataclasses import replace
from functools import cached_property

from pyspark.sql import DataFrame, SparkSession, functions as F

from cqaduplicatefind_spark.config import DedupConfig
from cqaduplicatefind_spark.functions.signatures import sign_pages
from cqaduplicatefind_spark.operators.candidates import explode_bands
from cqaduplicatefind_spark.operators.connected_components import (
    connected_components,
)
from cqaduplicatefind_spark.streaming.incremental import IncrementalDedup
from cqaduplicatefind_spark.streaming.store import open_stores, store_roots


class DeltaResult:
    """Output of one increment: ``edges`` are the accepted duplicate pairs
    involving at least one increment doc (intra-increment and
    increment-vs-index; index-index pairs cannot form — the corpus was never
    paired). An edge endpoint may be an earlier increment's DROPPED doc (see
    the module docstring's identity contract). ``surviving_new`` (one ``url``
    column) are the increment docs that enter the corpus under the
    cluster-consistent rule — computed LAZILY on first access, because the
    component resolution runs eager Spark jobs (checkpoint + fixed-point
    probes) an edges-only consumer should never pay. ``stats`` is the
    increment's ``IncrementalDedup`` batch-stats row (index rows joined,
    candidates, payload rows fetched — the per-increment work bound evidence;
    ``n_index_band_rows`` is None over an existing store: the O(index)
    recovery count is never paid). ``path`` is the matcher path the increment
    took: ``"driver"`` or ``"spark"`` (``IncrementalDedup.batch_paths``)."""

    def __init__(self, edges: DataFrame, new_ids: DataFrame, stats: dict,
                 path: str):
        self.edges = edges
        self.stats = stats
        self.path = path
        self._new_ids = new_ids
        self._persisted: list = []

    @cached_property
    def surviving_new(self) -> DataFrame:
        return surviving_new(self.edges, self._new_ids, persisted=self._persisted)

    def release(self) -> None:
        """Free the component resolution's localCheckpoint blocks (held so
        ``surviving_new`` stays re-collectable). A recrawl driver looping
        increments in one session accretes one checkpoint per increment
        otherwise — same contract as ``PipelineResult.release``."""
        for h in self._persisted:
            h.unpersist()
        self._persisted.clear()


def signature_frame(pages: DataFrame, cfg: DedupConfig) -> DataFrame:
    """pages(url, text) -> (url, minhash, simhash, n_tokens, n_shingles,
    shingles) from the pipeline's one-eval sign UDF, honoring
    ``cfg.normalize_input`` exactly like ``plans.pipeline`` (so an index
    seeded here matches signatures the flagship or the streaming path would
    compute for the same text). Docs with zero shingles are dropped — they can never pair and the
    stores stay slim (callers that need them, e.g. survivor selection, keep
    their own id frame)."""
    df = pages.select(F.col("url").cast("string").alias("url"), F.col("text"))
    # the stores hold no span columns: the UDF skips the winnowing
    return sign_pages(df, replace(cfg, span_pass=False)).where(
        F.col("n_shingles") > 0
    )


def seed_index(
    spark: SparkSession,
    corpus_pages: DataFrame,
    cfg: DedupConfig,
    work_dir: str,
    batch_id: int = -1,
) -> int:
    """Build the band + signature store from an already-deduplicated corpus
    WITHOUT pairing it. Idempotent per ``batch_id`` (overwrite-by-subdir, the
    same exactly-once discipline as the streaming path); seed ids must be
    NEGATIVE so they can never collide with an increment or micro-batch id
    (Structured Streaming numbers from 0 and would exclude-then-overwrite a
    colliding seed). Returns the number of corpus docs indexed. Cost: one
    signature pass over the corpus and two parquet writes — no shuffle wider
    than the writes themselves."""
    batch_id = int(batch_id)
    if batch_id >= 0:
        raise ValueError(
            f"seed batch_id must be negative (got {batch_id}); non-negative "
            "ids are reserved for increments and streaming micro-batches"
        )
    band_store, sig_store, _ = open_stores(
        spark, *store_roots(work_dir), bands=cfg.bands
    )
    sig = signature_frame(corpus_pages, cfg).persist()
    try:
        # count FIRST: it materializes the signature cache at full input
        # parallelism and sizes the store files; the coalesced writes below
        # then merge hot cached partitions (no shuffle, no recompute) into
        # size-targeted files — every later increment re-lists and re-opens
        # these files per trigger, so a 32-files-per-tiny-store layout taxed
        # every delta_dedup call (guide §6)
        n = sig.count()
        band_store.append(batch_id, explode_bands(sig, cfg), n * cfg.bands)
        sig_store.append(batch_id, sig, n)
        return n
    finally:
        sig.unpersist()


def surviving_new(
    edges: DataFrame, new_ids: DataFrame, persisted: list | None = None
) -> DataFrame:
    """Apply the cluster-consistent survivor rule: components over ``edges``
    (bounded by the increment's duplicate pairs, never the corpus); any
    component containing a non-increment doc drops all its increment members;
    a new-only component keeps its min-id member; increment docs in no edge
    survive untouched. Returns one ``url`` column."""
    ids = new_ids.select("url").distinct()
    asg = connected_components(edges.select("id_a", "id_b"), persisted=persisted)
    members = asg.join(
        ids.select(F.col("url").alias("id"), F.lit(True).alias("_new")),
        "id",
        "left",
    ).withColumn("_new", F.coalesce("_new", F.lit(False)))
    verdicts = members.groupBy("cluster_id").agg(
        F.min(F.when(F.col("_new"), F.col("id"))).alias("_keep"),
        F.max(F.when(F.col("_new"), 0).otherwise(1)).alias("_has_old"),
    )
    kept_in_clusters = (
        members.join(verdicts, "cluster_id")
        .where((F.col("_has_old") == 0) & (F.col("id") == F.col("_keep")))
        .select(F.col("id").alias("url"))
    )
    untouched = ids.join(
        members.select(F.col("id").alias("url")), "url", "left_anti"
    )
    return untouched.unionByName(kept_in_clusters)


def delta_dedup(
    spark: SparkSession,
    new_pages: DataFrame,
    cfg: DedupConfig,
    work_dir: str,
    batch_id: int,
) -> DeltaResult:
    """Dedup one increment of pages(url, text) against the store under
    ``work_dir`` (seeded by ``seed_index`` and/or grown by previous
    increments / streaming batches), then append the increment's own bands +
    signatures so the NEXT increment sees it as index. ``batch_id`` must be a
    unique non-negative int per increment, disjoint from any streaming
    micro-batch ids sharing the store (replays of the same id are idempotent
    — they overwrite their own subdirs)."""
    batch_id = int(batch_id)
    if batch_id < 0:
        raise ValueError(
            f"increment batch_id must be non-negative (got {batch_id}); "
            "negative ids are reserved for seeds"
        )
    dedup = IncrementalDedup(
        spark, cfg, *store_roots(work_dir), count_index_stats=False
    )
    sig = signature_frame(new_pages, cfg)
    dedup.process_batch(sig, batch_id)
    # process_batch appends the increment's matches unconditionally (empty
    # frames included), so a read failure here is a real failure — let it
    # propagate
    edges = dedup.match_store.read_batch(batch_id)
    ids = new_pages.select(F.col("url").cast("string").alias("url")).distinct()
    return DeltaResult(edges=edges, new_ids=ids, stats=dedup.batch_stats[-1],
                       path=dedup.batch_paths[-1])
