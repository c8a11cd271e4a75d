"""The flagship dedup pipeline: pages -> normalize -> signatures -> LSH+SimHash
candidates -> exact verify -> duplicate edges -> connected-component clusters ->
metrics.

This is the Spark re-design of the reference's lifecycle B (SURVEY.md §3.2:
``BM25DuplicateRetriever.main``): corpus build + BM25 index + per-query top-10 +
pair scoring + metrics — re-expressed as six declarative stages, each optionally
checkpointed to a warehouse stage table so any stage resumes idempotently
(north_rule).

Shuffle budget (the plan you'd want at 10^12 docs):
  1. strip+normalize+sign: one Python eval (``signature_stage``) over the
     scan — ZERO shuffle, and each document crosses the Arrow boundary once;
     partition count follows the input splits (``cfg.signature_partitions``
     repartition only when the source is narrower).
  2. candidates: one shuffle on band key (+ one on simhash piece key), one on the
     pair key for dedup.
  3. verify: two id-key shuffles (attach signature evidence to each pair side).
  Items 2-3 hold above ``config.DRIVER_MAX_ROWS`` band rows only. Below it,
  ``driver_pair_stage`` collects the signatures once and pairs and scores
  them on the driver (no shuffle), unless a bucket is hot or a url repeats.
  4. clustering: the accepted-edge set is usually tiny, and up to
     ``config.DRIVER_MAX_ROWS`` edges it is collected in one job and
     union-found on the driver (no shuffle); larger sets run O(log n)
     large-star/small-star rounds (``operators/connected_components.py``).
     After ``driver_pair_stage`` the edges are already on the driver: they
     are union-found there, the span pass's heterogeneous-bucket gate runs
     on the collected fingerprints, and ``clusters`` is built there too (no
     job), unless a fingerprint bucket holds two clusters.
  5. metrics: counts on edges/clusters — negligible.
Every stage's output is columnar-prunable; nothing materializes O(n^2).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructField, StructType

from cqaduplicatefind_spark import config
from cqaduplicatefind_spark.config import DedupConfig
from cqaduplicatefind_spark.functions.normalize import with_normalized_text
from cqaduplicatefind_spark.functions.signatures import sign_pages
from cqaduplicatefind_spark.operators.candidates import (
    band_keys, bit_count, driver_bucket_pairs, driver_piece_keys,
    minhash_lsh_candidates, null_safe_group, simhash_candidates,
)
from cqaduplicatefind_spark.operators.connected_components import (
    _min_root_components,
    attach_singletons,
    connected_components,
)
from cqaduplicatefind_spark.operators.verify import (
    EDGE_SCHEMA, SCORED_SCHEMA, accept_condition, accept_edges, driver_accept,
    driver_score_pairs, score_pairs,
)
from cqaduplicatefind_spark.session import arrow_frame, non_adaptive_count, small_plans
from cqaduplicatefind_spark.sources.warehouse import Warehouse


@dataclass
class PipelineResult:
    signatures: DataFrame
    candidates: DataFrame
    scored: DataFrame
    edges: DataFrame
    clusters: DataFrame
    overlap_edges: DataFrame | None = None
    stage_metrics: dict = field(default_factory=dict)
    persisted: list = field(default_factory=list)
    path: str = "spark"  # or "driver": driver_pair_stage paired and scored

    def release(self) -> None:
        """Unpersist every frame run_pipeline cached (signatures, candidates,
        base edges, span edges). Call when done consuming the result — repeated
        pipeline runs in one session leak executor storage otherwise."""
        for df in self.persisted:
            df.unpersist()
        self.persisted.clear()


def _spread(pages: DataFrame, cfg: DedupConfig) -> DataFrame:
    """``pages`` hash-partitioned on url to ``cfg.signature_partitions`` when
    the input is narrower. Pandas-UDF stages parallelize over partitions; a
    small input (one parquet file -> one split) would otherwise run the whole
    sign stage on a single core. Hash partitioning is deterministic under
    retries, unlike round-robin. The width probe uses the scan's file listing
    first (free for the parquet/Iceberg scans this stage sees in production —
    no RDD conversion); only file-less in-memory frames (tests, bench
    fixtures) pay the driver-side df.rdd probe, which avoids re-shuffling an
    input that is already wide. At cluster scale input files >> target and
    this is a no-op."""
    try:
        n_input = len(pages.inputFiles())
    except Exception:
        n_input = 0
    if n_input == 0:
        n_input = pages.rdd.getNumPartitions()
    if n_input < cfg.signature_partitions:
        return pages.repartition(cfg.signature_partitions, "url")
    return pages


def normalize_stage(pages: DataFrame, cfg: DedupConfig) -> DataFrame:
    """pages(url, text) -> (url, norm_text), trusting the provided text column
    (it must equal strip_tags(html) — verified by tests). For callers that
    want ``norm_text`` alone: ``signature_stage`` normalizes in its own
    Python pass."""
    df = _spread(pages, cfg)
    keep = ["url", "norm_text"]
    if not cfg.normalize_input:
        # input is declared already-normalized (tokenized, single-spaced):
        # skip the reference normalization pass entirely
        return df.withColumn("norm_text", F.col("text")).select(*keep)
    return with_normalized_text(df, "text", "norm_text").select(*keep)


def signature_stage(
    pages: DataFrame,
    cfg: DedupConfig,
    use_html: bool = False,
    group_col: str | None = None,
) -> DataFrame:
    """pages(url, [group], html or text) -> (url, [group], minhash, simhash,
    n_tokens, n_shingles, shingles[, span_fps, norm_text]): strip (when
    ``use_html``), normalize (unless ``cfg.normalize_input`` is False) and
    sign in one Python eval per document (``sign_pages``).

    norm_text + span_fps ride along for the exact-span pass (fingerprint
    explode + span verify read them from the signatures stage table); every
    other consumer prunes them at the scan via explicit selects. With the
    span pass OFF the UDF does not return them: keeping norm_text (the full
    normalized document — the widest column in the frame) would still
    materialize it into the persisted stage cache, since column pruning
    happens at cache READS, not at the cache build."""
    g = (group_col,) if group_col else ()
    return sign_pages(
        _spread(pages, cfg), cfg, "html" if use_html else "text", use_html,
        keep=("url", *g),
    )


def candidate_stage(
    signatures: DataFrame,
    cfg: DedupConfig,
    group_col: str | None = None,
    mode: str = "base",
    orphans: DataFrame | None = None,
) -> DataFrame:
    """Candidate pairs from both bucket families (MinHash LSH bands + SimHash
    pigeonhole pieces), one dedup shuffle at the end.

    ``mode="base"`` (the pipeline's first round) emits small-bucket pairs plus
    star edges tagged ``is_star``; ``mode="rescue"`` with an ``orphans`` (id)
    table emits hot-bucket salted sub-bucket pairs touching an orphan — the
    verify feedback loop documented in ``operators/candidates.py``.
    ``mode="all"`` emits everything in one shot (one-shot/standalone callers)."""
    # neither source dedups; one dropDuplicates shuffle at the end
    g = [group_col] if group_col else []
    # docs with zero shingles (fewer than shingle_k tokens) carry the all-MAX_U64
    # sentinel MinHash and simhash=0 — identical signatures for UNRELATED docs.
    # They must be excluded from BOTH bucket explodes or every pair of short docs
    # becomes a candidate.
    signed = signatures.where(F.col("n_shingles") > 0)
    mh = minhash_lsh_candidates(
        signed.select("url", *g, "minhash"), cfg, group_col=group_col,
        mode=mode, orphans=orphans,
    )
    sh = simhash_candidates(
        signed.select("url", *g, "simhash"), cfg, group_col=group_col,
        mode=mode, orphans=orphans,
    )
    u = mh.unionByName(sh)
    if mode == "base":
        # keep star provenance through the dedup: a pair that is a star edge in
        # ANY bucket must orphan its endpoints if verify rejects it
        return u.groupBy("id_a", "id_b").agg(F.max("is_star").alias("is_star"))
    return u.dropDuplicates(["id_a", "id_b"])


def driver_pair_stage(
    signatures: DataFrame, cfg: DedupConfig, group_col: str | None = None
) -> tuple[dict[str, np.ndarray], np.ndarray, pa.Table] | None:
    """``candidate_stage(mode="base")`` and ``score_pairs``
    on the driver, for signatures whose band rows fit
    ``config.DRIVER_MAX_ROWS``: one collect, the stream path's bucket pairing
    (``driver_bucket_pairs``) over the band keys and the SimHash pieces, the
    Hamming gate on piece pairs, and the stream path's scorer. Returns the
    scored columns of every candidate pair, the ``accept_condition`` mask
    and the collected table (one row per signature row; with the span pass
    on it carries ``n_tokens`` and ``span_fps`` for ``_driver_spans_empty``).
    None sends the pass to the Spark plans: a bucket holds more than
    ``max_band_group`` rows (stars and the rescue round are the Spark
    kernel's), or a url repeats (the Spark joins would repeat its rows)."""
    g = [group_col] if group_col else []
    span = ["n_tokens", "span_fps"] if _span_on(cfg) else []
    signed = null_safe_group(signatures, group_col).select(
        "url", *g,
        # band_keys' JVM-side hashes: the Spark path's keys, bit for bit
        band_keys(cfg).getField("bh").alias("bh"),
        "simhash", "n_shingles", "shingles", *span,
    ).toArrow()
    if pc.count_distinct(signed["url"], mode="all").as_py() < signed.num_rows:
        return None
    # zero-shingle docs share the sentinel signature: never candidates
    docs = signed.filter(pc.greater(signed["n_shingles"], 0))
    n = docs.num_rows
    group = (
        docs[group_col].combine_chunks().dictionary_encode().indices.to_numpy()
        if group_col else np.zeros(n, dtype=np.int64)
    ).astype(np.int64)

    def bucket_pairs(keys: np.ndarray) -> list[tuple[str, str]] | None:
        # a (group, family slot) pair folds into the band column of the key
        per_doc = keys.shape[1]
        slot = group[:, None] * per_doc + np.arange(per_doc)
        rows = pa.table({
            "id": docs["url"].take(np.repeat(np.arange(n), per_doc)),
            "band": slot.ravel(),
            "bh": keys.ravel(),
        })
        return driver_bucket_pairs(rows, rows.slice(0, 0), cfg.max_band_group)

    bh = docs["bh"].combine_chunks().flatten().to_numpy()
    lsh = bucket_pairs(bh.reshape(n, cfg.bands))
    sim = docs["simhash"].to_numpy()
    piece = bucket_pairs(driver_piece_keys(sim, cfg))
    if lsh is None or piece is None:
        return None
    row = {u: i for i, u in enumerate(docs["url"].to_pylist())}
    ia = np.array([row[a] for a, _ in piece], dtype=np.int64)
    ib = np.array([row[b] for _, b in piece], dtype=np.int64)
    near = bit_count(sim[ia] ^ sim[ib]) <= cfg.hamming_k
    pairs = set(lsh).union(p for p, ok in zip(piece, near) if ok)
    scored = driver_score_pairs(sorted(pairs), docs, cfg)
    return scored, driver_accept(scored, cfg), signed


def _span_on(cfg: DedupConfig) -> bool:
    return cfg.span_pass and cfg.min_overlap_span > 0


def _driver_spans_empty(
    signed: pa.Table, cluster: dict, cfg: DedupConfig, group_col: str | None
) -> bool:
    """The span pass's heterogeneous-bucket gate (``overlap.span_candidates``)
    on the driver: True when no (group, fingerprint) bucket of the docs with
    at least ``min_overlap_span`` tokens holds two clusters. ``cluster`` maps
    a url to its components label; an unlabelled url is its own cluster. By
    the winnowing bound, a pair sharing a run of ``min_overlap_span`` tokens
    shares a fingerprint, so True means ``exact_span_edges`` would return no
    edge. The group key is ``null_safe_group``'s, as collected."""
    docs = signed.filter(
        pc.greater_equal(signed["n_tokens"], cfg.min_overlap_span)
    )
    fps = docs["span_fps"].combine_chunks()
    per_doc = pc.list_value_length(fps).fill_null(0).to_numpy()
    labels = pa.array([cluster.get(u, u) for u in docs["url"].to_pylist()])

    def codes(col) -> np.ndarray:
        enc = col.dictionary_encode(null_encoding="encode")
        return np.repeat(enc.indices.to_numpy(), per_doc)

    cl = codes(labels)
    grp = codes(docs[group_col].combine_chunks()) if group_col else 0 * cl
    fp = fps.flatten().to_numpy()
    o = np.lexsort((cl, fp, grp))
    cl, fp, grp = cl[o], fp[o], grp[o]
    same_bucket = (fp[1:] == fp[:-1]) & (grp[1:] == grp[:-1])
    return not np.any(same_bucket & (cl[1:] != cl[:-1]))


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    cfg: DedupConfig,
    warehouse: Warehouse | None = None,
    use_html: bool = False,
    group_col: str | None = None,
    timings: dict | None = None,
) -> PipelineResult:
    """Run (or resume) the full dedup pipeline. With a warehouse, every stage is
    checkpointed + resumable; without, it's one lazy plan.

    ``group_col`` scopes candidate generation within groups (the reference's
    per-forum corpora, SURVEY U1) — one job over the union, not a driver loop;
    omit for the combined ("full") corpus run.

    ``timings`` (a dict): when given, receives ``span_extra_sec`` — the wall
    time of the span branch's work BEYOND what the span-free branch runs (the
    het-aggregate discovery job, candidate verify, and — when spans exist —
    the second components job; the one CC pass both branches share is
    excluded). This is the low-variance direct measurement of the span pass's
    cost; bench.py reports it next to the noisy full-run paired deltas.

    A corpus of at most ``config.DRIVER_MAX_ROWS`` band rows runs every stage
    after the signatures non-adaptive (``session.small_plans``); frames the
    result leaves lazy plan under the caller's setting when acted on. It also
    pairs and verifies on the driver (``driver_pair_stage``;
    ``PipelineResult.path`` says which path ran)."""

    persisted: list = []

    def stage(name: str, compute, reused: bool = False):
        if warehouse is None:
            df = compute()
            if reused:
                # consumed by several downstream branches (both LSH paths + both
                # verify sides): persist or the signature UDF chain recomputes 4x
                df = df.persist()
                persisted.append(df)
            return df
        return warehouse.get_or_compute(spark, name, compute)

    signatures = stage(
        "signatures",
        lambda: signature_stage(pages, cfg, use_html, group_col),
        reused=True,
    )
    # it materializes the signature cache every later stage reads anyway,
    # and the row count scopes their plans
    n_sig = non_adaptive_count(signatures)
    with small_plans(spark, n_sig * cfg.bands):
        driver = None
        if n_sig * cfg.bands <= config.DRIVER_MAX_ROWS:
            driver = driver_pair_stage(signatures, cfg, group_col)
        return _pair_and_cluster(
            pages, cfg, warehouse, group_col, timings, stage, persisted,
            signatures, driver,
        )


def _pair_and_cluster(
    pages: DataFrame,
    cfg: DedupConfig,
    warehouse: Warehouse | None,
    group_col: str | None,
    timings: dict | None,
    stage,
    persisted: list,
    signatures: DataFrame,
    driver: tuple[dict, np.ndarray, pa.Table] | None,
) -> PipelineResult:
    """``run_pipeline`` after the signature stage: candidates, verify, the
    rescue round, the span pass and clustering. ``driver`` is
    ``driver_pair_stage``'s result, if any: it has no stars to rescue, and
    the pass finishes on the driver with no further Spark job. It union-finds
    the accepted edges and builds ``clusters`` over every signature row,
    unless a fingerprint bucket holds two clusters (``_driver_spans_empty``):
    then the span pass runs its Spark plans, fed the driver assignment."""
    spark = signatures.sparkSession
    rescued = False
    cluster = None  # url -> components label (min id), on the driver path
    if driver is None:
        candidates, scored, edges, rescued = _spark_pairs(
            cfg, group_col, stage, signatures
        )
    else:
        cols, accept, signed = driver
        cols["is_star"] = np.zeros(len(accept), dtype=bool)

        def frame(schema: str, columns: dict):
            return lambda: arrow_frame(spark, schema, columns)

        candidates = stage(
            "candidate_pairs",
            frame("id_a string, id_b string, is_star boolean", cols),
        )
        scored = stage("scored_pairs", frame(SCORED_SCHEMA + ", is_star boolean", cols))
        edges = stage(
            "dup_edges", frame(EDGE_SCHEMA, {c: v[accept] for c, v in cols.items()})
        )
        cluster = dict(zip(*_min_root_components(
            cols["id_a"][accept].tolist(), cols["id_b"][accept].tolist()
        )))
        id_type = signatures.schema["url"].dataType

        def labelled(names: tuple[str, str], ids: list):
            schema = StructType([StructField(n, id_type) for n in names])
            return lambda: arrow_frame(spark, schema, {
                names[0]: ids, names[1]: [cluster.get(u, u) for u in ids],
            })

        # every signature row: singletons label themselves
        driver_clusters = labelled(("url", "cluster_id"), signed["url"].to_pylist())

    # the suffix-array-analog stage (north_star): exact-span edges for pairs
    # sharing a contiguous run >= min_overlap_span tokens, discovered corpus-wide
    # by winnowing fingerprints (LSH never surfaces low-Jaccard containment
    # pairs). The LSH edges are clustered FIRST; span candidates whose endpoints
    # already share a cluster are dropped before the dedup shuffle and the
    # per-pair verification (they add no connectivity), so the span stage's
    # verify cost is O(genuinely-new containment pairs), not O(near-dup pairs).
    # Final clustering then runs over the (id -> cluster) assignment edges plus
    # the new span edges — the assignment graph is already near-converged, so
    # the second components job finishes in O(1) rounds.
    overlap_edges = None
    if _span_on(cfg):
        from cqaduplicatefind_spark.operators.overlap import (
            SPAN_EDGE_SCHEMA,
            exact_span_edges,
        )

        # a fresh pairing graph is never a converged star forest: skip the
        # first fixed-point probe
        cc_stats: dict = {}
        if cluster is None:
            pre_assign = stage(
                "pre_clusters",
                lambda: connected_components(
                    edges.select("id_a", "id_b"),
                    assume_unconverged=True, persisted=persisted,
                    stats=cc_stats,
                ),
            )
        else:
            pre_assign = stage(
                "pre_clusters", labelled(("id", "cluster_id"), list(cluster))
            )
            cc_stats["nodes"] = len(cluster)
        # the span stage's broadcast-vs-shuffle gate needs the assignment
        # count. The driver paths know it, and their Arrow-built frame is
        # driver-side data that every read scans as cheaply as a cache.
        n_assign = cc_stats.get("nodes")
        if n_assign is None:
            if warehouse is None:
                # consumed by exact_span_edges (fingerprint-row join) AND by
                # the final clusters stage: the star loop's return value
                # re-runs its roots-union + groupBy-min shuffle on EVERY
                # action, so without a persist the span branch pays that
                # assignment shuffle twice
                pre_assign = pre_assign.persist()
                persisted.append(pre_assign)
            # the count materializes the cache NOW, outside the span-cost
            # window: the span-free branch pays the same CC-output
            # re-derivation inside attach_singletons, so it is common-path work
            n_assign = pre_assign.count()
        _span_t0 = time.perf_counter()
        # on the tail no fingerprint bucket holds two clusters: no span edge
        tail = cluster is not None and _driver_spans_empty(
            signed, cluster, cfg, group_col
        )
        overlap_edges = stage(
            "overlap_edges",
            (lambda: arrow_frame(spark, SPAN_EDGE_SCHEMA)) if tail else
            lambda: exact_span_edges(
                signatures, cfg, exclude_assignments=pre_assign,
                group_col=group_col, persisted=persisted,
                assignments_count=n_assign,
            ),
            reused=not tail,  # probed for emptiness below, then unioned/returned
        )
        # count, not isEmpty: the frame is persisted and consumed in full either
        # way, and on the (common) empty result take(1) runs its partition scan
        # in several escalating waves while count() is one wave + a scalar agg.
        # The empty result is an Arrow-built frame, so this count starts no
        # Python worker.
        if tail:
            clusters = stage("clusters", driver_clusters)
        elif overlap_edges.count() == 0:
            # nothing new beyond the LSH clustering: skip the second components
            # job entirely (the common case on corpora without shell-containment)
            clusters = stage(
                "clusters",
                lambda: attach_singletons(pages.select("url"), pre_assign),
            )
        else:
            # assignment stars and span edges are disjoint by construction
            # (same-cluster span pairs were excluded pre-verify), so the union
            # is already distinct; probe-first stays — span edges alone CAN be
            # a converged forest (containment pairs among otherwise-unique docs)
            all_edges = pre_assign.select(
                F.col("id").alias("id_a"), F.col("cluster_id").alias("id_b")
            ).unionByName(overlap_edges.select("id_a", "id_b"))
            clusters = stage(
                "clusters",
                lambda: attach_singletons(
                    pages.select("url"),
                    connected_components(all_edges, persisted=persisted),
                ),
            )
        if timings is not None:
            # everything since _span_t0 is span-specific: the driver-side
            # gate, the het-aggregate discovery job, candidate verify, the
            # emptiness probe, and the second CC when spans exist. The
            # pre_assign assignment is fully built before the window on both
            # components paths (the star loop's cache by the n_assign count
            # above, the driver path's frame on the driver), so the window
            # only reads it — the span-free branch pays the same CC-output
            # re-derivation inside attach_singletons, so it is common-path
            # work. The clusters stage itself is lazy in the empty case,
            # eager (the second components run) otherwise — both correctly
            # charged.
            timings["span_extra_sec"] = time.perf_counter() - _span_t0
    elif cluster is not None:
        clusters = stage("clusters", driver_clusters)
    else:
        clusters = stage(
            "clusters",
            lambda: attach_singletons(
                pages.select("url"),
                connected_components(
                    edges.select("id_a", "id_b"),
                    assume_unconverged=True, persisted=persisted,
                ),
            ),
        )

    stage_metrics: dict = {}
    if warehouse is not None:
        tables = ["signatures", "candidate_pairs", "scored_pairs", "dup_edges"]
        if rescued:
            tables.extend(["rescue_pairs", "rescue_edges"])
        if overlap_edges is not None:
            tables.extend(["pre_clusters", "overlap_edges"])
        tables.append("clusters")
        for t in tables:
            stage_metrics[t] = warehouse.manifest(t).get("row_count")

    return PipelineResult(
        signatures, candidates, scored, edges, clusters, overlap_edges,
        stage_metrics, persisted, "spark" if driver is None else "driver",
    )


def _spark_pairs(
    cfg: DedupConfig, group_col: str | None, stage, signatures: DataFrame
) -> tuple[DataFrame, DataFrame, DataFrame, bool]:
    """The candidate, score and accept plans, then the rescue round:
    (candidates, scored, edges with any rescue edges, whether it ran)."""
    candidates = stage(
        "candidate_pairs",
        lambda: candidate_stage(signatures, cfg, group_col, mode="base"),
        reused=True,  # feeds scoring AND the rescue round's orphan derivation
    )
    # is_star rides through scoring so the rescue round's orphan probe can read
    # the rejected side of the accept decision straight off the scored frame
    # (see below) instead of anti-joining two million-row frames. A warehouse
    # checkpoint written before candidate_stage emitted is_star fails here.
    scored = stage(
        "scored_pairs",
        lambda: score_pairs(candidates, signatures, cfg, keep_cols=("is_star",)),
        reused=True,  # edges + orphan probe
    )
    edges = stage("dup_edges", lambda: accept_edges(scored, cfg), reused=True)

    # rescue round (operators/candidates.py module docstring): members of
    # MinHash-band star edges that verify REJECTED ("orphans") get salted
    # sub-bucket pairing inside their hot buckets (both bucket families) —
    # recovering true pairs a heterogeneous hot bucket's star backbone cannot
    # connect. SimHash stars carry is_star=false (hot piece buckets are noise
    # collisions; their rejections are expected, not a heterogeneity signal).
    # On homogeneous corpora (hot bands = one dup family, stars all pass) the
    # orphan set is empty and the round is skipped: the pipeline pays O(m) per
    # hot bucket, never C(m,2)/n_sub, unless verify proves a band heterogeneous.
    # score_pairs filters no pair, so EVERY candidate pair
    # reaches the scored frame and a rejected star edge is simply a scored
    # row failing the accept condition: one filter over the persisted scored
    # cache, no join.
    rescue_edges = None
    orphans = (
        scored.where(F.col("is_star") & ~accept_condition(cfg))
        .select(F.explode(F.array("id_a", "id_b")).alias("id"))
        .distinct()
    )
    # count, not isEmpty: orphans is usually EMPTY (homogeneous corpora),
    # and take(1) on an empty frame runs its scan in several escalating
    # waves — each wave re-driving the candidate+verify mega-job's final
    # stage. count() is one wave plus a scalar agg, and it materializes
    # the persisted candidates/edges caches the rescue branch reads anyway.
    if orphans.count() > 0:
        rescue_cands = stage(
            "rescue_pairs",
            lambda: candidate_stage(
                signatures, cfg, group_col, mode="rescue", orphans=orphans
            ).join(
                candidates.select("id_a", "id_b"), ["id_a", "id_b"], "left_anti"
            ),
        )
        rescue_edges = stage(
            "rescue_edges",
            lambda: accept_edges(
                score_pairs(rescue_cands, signatures, cfg),
                cfg,
            ),
            # components reads the union twice when it is larger than the
            # driver bound (the bounded probe, then the star loop's
            # checkpoint): without a persist the rescue candidate, score
            # and accept plan runs twice
            reused=True,
        )
        edges = edges.unionByName(rescue_edges)

    return candidates, scored, edges, rescue_edges is not None


def retrieval_scored_pairs(result: PipelineResult, cfg: DedupConfig) -> DataFrame:
    """Scored pairs for the retrieval API: direct candidates UNION pairs implied by
    the final clusters (transitive closure). Sibling docs connected only through a
    hub (template) are retrievable this way even when their direct Jaccard sits
    below the LSH collision curve — mirroring the reference's behavior where BM25
    retrieves any lexically-close candidate (src/BM25DuplicateRetriever.py:63).
    Closure pairs are bounded by cluster sizes, so this never approaches O(n^2)."""
    from cqaduplicatefind_spark.operators.metrics import clusters_to_pairs

    closure = clusters_to_pairs(result.clusters)
    pairs = result.candidates.select("id_a", "id_b").unionByName(closure).dropDuplicates(
        ["id_a", "id_b"]
    )
    return score_pairs(pairs, result.signatures, cfg)
