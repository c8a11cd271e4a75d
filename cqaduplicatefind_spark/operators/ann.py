"""Approximate-nearest-neighbor search over an embedding column.

The deterministic replacement for the reference's Doc2Vec ``most_similar`` retrieval
(``/root/reference/src/DuplicateRetriever.py:47``) generalized to any
``array<float>`` embedding column:

- ``cosine_topk``: exact brute-force baseline — query-set x corpus join, cosine in
  codegen (``zip_with`` + ``aggregate``), window top-k. Right answer, O(|Q| * n):
  only for small query sets or oracle checks.
- ``rp_lsh_topk``: the scale path — sign-random-projection LSH (Charikar
  hyperplane hashing): b deterministic pseudo-random hyperplanes per table ->
  2^b buckets; candidates from multi-probe over ``n_tables`` independent tables;
  exact cosine re-rank on candidates only. Per-row cost O(b * d * n_tables),
  join cost ~bucket collisions — this is what survives 10^12 rows.
- ``cosine_dedup_pairs``: all-pairs cosine >= threshold via the same bucketing
  (embedding near-dup dedup for training pipelines).
- ``semantic_dedup_kept``: SemDeDup-style kept-corpus emit under a smaller-id
  dominance rule, with exact / RP-LSH / IVF-representative candidate paths.
- ``ivf_train_centroids`` / ``ivf_candidate_scores``: the IVF-flat
  scale path (the coarse-quantizer design of Sivic & Zisserman's Video Google /
  FAISS IndexIVFFlat): deterministic spherical k-means centroids (the model
  artifact — k*d floats, broadcast-sized at any corpus scale), corpus assigned
  to inverted lists clustered by centroid id, search probes the ``nprobe``
  nearest lists and exactly re-ranks only those candidates. Probing ALL lists
  degenerates to the exact answer — which is what lets the driver query face
  the brute-force SQL oracle while pytest pins partial-probe recall.

Hyperplanes are derived from splitmix64 streams (seeded, wall-clock-free) inside a
pandas UDF that processes whole Arrow batches with one numpy matmul.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from cqaduplicatefind_spark.functions.hashing import splitmix64


def cosine_col(a, b):
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )
    nb = F.sqrt(
        F.aggregate(b, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )
    # zero-norm guard: a zero vector's cosine vs anything is 0 by the module
    # convention (_norm_rows agrees), NOT NULL — and under ANSI mode a plain
    # divide would raise DIVIDE_BY_ZERO instead of silently dropping the row
    return F.when((na > 0) & (nb > 0), dot / (na * nb)).otherwise(F.lit(0.0))


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k: (qid, cand, cosine, rank). Broadcast the query side — the
    corpus never shuffles."""
    q = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qv")
    )
    c = corpus.select(F.col(id_col).alias("cand"), F.col(vec_col).alias("cv"))
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .where(F.col("cand") != F.col("qid"))
        .select("qid", "cand", cosine_col(F.col("qv"), F.col("cv")).alias("cosine"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("cand"))
    return (
        scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)
    )


def _hyperplanes(dim: int, bits: int, table: int, seed: int) -> np.ndarray:
    """(bits, dim) deterministic pseudo-gaussian hyperplanes from splitmix64
    streams (sum of 4 uniforms ~ gaussian enough for sign hashing).

    Per-table stride is 2^40: each table consumes ``bits * dim`` consecutive
    stream positions, so tables share NO base values for any plausible
    ``bits * dim`` (a small additive stride like a 4-digit prime would overlap
    adjacent tables' streams at high dim — e.g. bits=12 x dim=768 = 9216
    positions — making the "independent tables" recall bound a fiction)."""
    n = bits * dim
    assert n < (1 << 40), "bits*dim exceeds the per-table stream stride"
    out = np.zeros(n, dtype=np.float64)
    # offset folded in Python ints (wrapping mod 2^64) — numpy uint64 scalar
    # products warn on overflow
    off = (seed * 0x9E3779B97F4A7C15 + table * (1 << 40)) % (1 << 64)
    base = np.arange(n, dtype=np.uint64) + np.uint64(off)
    for r in range(4):
        u = splitmix64(base ^ np.uint64(0x9E37 + r))
        out += u.astype(np.float64) / float(1 << 64) - 0.5
    return out.reshape(bits, dim)


def _drop_null_vecs(pdf: pd.DataFrame, vec_col: str) -> pd.DataFrame:
    """Rows with NULL/empty embeddings are excluded from approximate candidate
    generation: their cosine to anything is 0 (below any useful threshold), and
    left in they would (a) crash the batch matmul with a ragged object array or
    (b) all hash to the same all-zero-sign bucket, manufacturing a hot bucket
    of unrelated rows. The exact SQL paths score them 0 via ``cosine_col``'s
    zero-norm guard — consistent outcomes (never a candidate) on both paths."""
    mask = pdf[vec_col].map(lambda v: v is not None and len(v) > 0)
    return pdf[mask] if not mask.all() else pdf


def with_rp_buckets(
    df: DataFrame,
    bits: int = 12,
    n_tables: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """-> (id, table, bucket): sign-random-projection bucket per hash table.
    One numpy matmul per Arrow batch per table; output explodes to n_tables
    rows. NULL/empty embeddings emit no buckets (``_drop_null_vecs``)."""

    def compute(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        planes: dict[int, np.ndarray] = {}
        weights = (np.uint64(1) << np.arange(bits, dtype=np.uint64)).astype(np.int64)
        for pdf in it:
            pdf = _drop_null_vecs(pdf, vec_col)
            if len(pdf) == 0:
                continue
            mat = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            ids, tables, buckets = [], [], []
            for t in range(n_tables):
                if t not in planes:
                    planes[t] = _hyperplanes(mat.shape[1], bits, t, seed)
                signs = (mat @ planes[t].T) > 0  # (rows, bits)
                bucket = (signs.astype(np.int64) * weights).sum(axis=1)
                ids.append(pdf[id_col].to_numpy())
                tables.append(np.full(len(pdf), t, dtype=np.int32))
                buckets.append(bucket)
            yield pd.DataFrame(
                {
                    "id": np.concatenate(ids),
                    "table": np.concatenate(tables),
                    "bucket": np.concatenate(buckets),
                }
            )

    id_type = dict(df.dtypes)[id_col]
    return df.select(F.col(id_col), F.col(vec_col)).mapInPandas(
        compute, f"id {id_type}, table int, bucket long"
    )


def _cap_buckets(b: DataFrame, max_bucket: int | None) -> DataFrame:
    """Drop (table, bucket) groups larger than ``max_bucket`` from a bucket
    frame — the skew guard for the RP self/probe joins (a degenerate embedding
    family, or all-identical template vectors, otherwise lands m rows in one
    bucket in EVERY table and the join emits O(m^2)). Multi-table redundancy
    softens the recall cost for ordinary hot regions (each table draws its own
    buckets), but a family identical in ALL tables loses its pairs entirely —
    callers needing those families connected should route them through the
    star-capped ``bucket_candidates`` kernel instead (candidates.py). Default
    None = uncapped (exact-recall parity with the brute-force oracle)."""
    if max_bucket is None:
        return b
    w = Window.partitionBy("table", "bucket")
    return (
        b.withColumn("_n", F.count("*").over(w))
        .where(F.col("_n") <= max_bucket)
        .drop("_n")
    )


def rp_lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    bits: int = 12,
    n_tables: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int | None = None,
) -> DataFrame:
    """Approximate top-k: bucket-join candidates (any shared (table, bucket)),
    exact cosine re-rank. Recall grows with n_tables / shrinks with bits.
    ``max_bucket`` skew-caps the corpus-side buckets (see ``_cap_buckets``)."""
    qb = with_rp_buckets(queries, bits, n_tables, seed, id_col, vec_col).select(
        F.col("id").alias("qid"), "table", "bucket"
    )
    cb = _cap_buckets(
        with_rp_buckets(corpus, bits, n_tables, seed, id_col, vec_col),
        max_bucket,
    ).select(F.col("id").alias("cand"), "table", "bucket")
    cand = (
        qb.join(cb, ["table", "bucket"])
        .where(F.col("qid") != F.col("cand"))
        .select("qid", "cand")
        .dropDuplicates(["qid", "cand"])
    )
    q = queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv"))
    c = corpus.select(F.col(id_col).alias("cand"), F.col(vec_col).alias("cv"))
    scored = (
        cand.join(q, "qid")
        .join(c, "cand")
        .select("qid", "cand", cosine_col(F.col("qv"), F.col("cv")).alias("cosine"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("cand"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def _norm_rows(mat: np.ndarray) -> np.ndarray:
    """L2-normalize rows; zero rows stay zero (their cosine vs anything is 0)."""
    n = np.linalg.norm(mat, axis=1, keepdims=True)
    return np.divide(mat, n, out=np.zeros_like(mat), where=n > 0)


def ivf_train_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    iters: int = 3,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Deterministic spherical k-means: (n_centroids, d) float64 row-normalized
    centroid matrix — the IVF model artifact.

    Scale posture: the per-iteration reduction is a distributed
    ``posexplode -> groupBy(cid, pos).sum`` (map-side combined), so only
    k*d scalars ever reach the driver — the same traffic shape as MLlib
    KMeans' treeAggregate. Init is the k corpus vectors with the smallest
    seeded xxhash64(id): a deterministic sample, stable across partitionings
    (no Date/RNG state). Centroid floats are deterministic up to float-sum
    order across partitionings; downstream exactness (full probe) does not
    depend on them."""
    # persist the slim projection for the duration of training: every Lloyd
    # iteration (and the init scan) re-reads the corpus, and without the cache
    # the corpus's full upstream plan (source read, joins, UDFs feeding the
    # embedding column) would re-execute iters+1 times. MEMORY_AND_DISK by
    # default, so an over-memory corpus spills instead of failing.
    slim = corpus.select(id_col, vec_col).persist()
    try:
        init_rows = (
            slim.where(F.col(vec_col).isNotNull() & (F.size(vec_col) > 0))
            .select(
                F.col(vec_col).alias("v"),
                F.xxhash64(F.col(id_col).cast("string"), F.lit(seed)).alias("_h"),
                F.col(id_col).alias("_id"),
            )
            .orderBy("_h", "_id")
            .limit(n_centroids)
            .collect()
        )
        if not init_rows:
            raise ValueError("ivf_train_centroids: corpus is empty")
        cent = _norm_rows(np.asarray([r.v for r in init_rows], dtype=np.float64))
        for _ in range(iters):
            # normalize_out: spherical k-means averages NORMALIZED members —
            # raw-vector sums would weight the mean by magnitude while the
            # assignment step optimizes direction only (mismatched objectives)
            assigned = _ivf_assign(slim, cent, id_col, vec_col, normalize_out=True)
            parts = (
                assigned.select("cid", F.posexplode("cv").alias("pos", "val"))
                .groupBy("cid", "pos")
                .agg(
                    F.sum(F.col("val").cast("double")).alias("s"),
                    F.count("*").alias("n"),
                )
                .collect()
            )
            nxt = cent.copy()  # empty cells keep their centroid
            sums = np.zeros_like(cent)
            counts = np.zeros(len(cent), dtype=np.int64)
            for r in parts:
                sums[r.cid, r.pos] = r.s
                counts[r.cid] = r.n
            live = counts > 0
            nxt[live] = _norm_rows(sums[live] / counts[live, None])
            cent = nxt
    finally:
        slim.unpersist()
    return cent


def _ivf_assign(
    df: DataFrame,
    centroids: np.ndarray,
    id_col: str,
    vec_col: str,
    normalize_out: bool = False,
) -> DataFrame:
    """-> (cid, cand, cv): each vector labeled with its nearest centroid (the
    inverted-list key). One numpy matmul per Arrow batch; centroids travel by
    closure (k*d floats — broadcast-sized regardless of corpus size).
    NULL/empty embeddings are excluded (``_drop_null_vecs``).

    ``normalize_out=True`` emits the L2-NORMALIZED vector as ``cv`` — the form
    the spherical k-means update must average (assignment maximizes cosine on
    normalized vectors, so updating from raw vectors would let one huge-norm
    member steer the centroid away from the direction most members point).
    Search paths keep the raw vector: ``cosine_col`` normalizes itself."""
    cent = np.ascontiguousarray(centroids)

    def assign(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            pdf = _drop_null_vecs(pdf, vec_col)
            if len(pdf) == 0:
                continue
            mat = _norm_rows(
                np.asarray(
                    [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
                )
            )
            cid = np.argmax(mat @ cent.T, axis=1).astype(np.int32)
            cv = list(mat) if normalize_out else pdf[vec_col]
            yield pd.DataFrame({"cid": cid, "cand": pdf[id_col], "cv": cv})

    id_type = dict(df.dtypes)[id_col]
    vec_type = dict(df.dtypes)[vec_col]
    return df.select(id_col, vec_col).mapInPandas(
        assign, f"cid int, cand {id_type}, cv {vec_type}"
    )


def ivf_candidate_scores(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: np.ndarray,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(qid, cand, cosine) for every corpus vector in the query's ``nprobe``
    nearest inverted lists (self excluded). The join is a plain equi-join on the
    centroid id — candidate volume is ~nprobe/k of the corpus per query, and no
    all-pairs path exists. ``nprobe >= len(centroids)`` probes every list and
    is EXACT by construction."""
    cent = np.ascontiguousarray(centroids)
    nprobe = min(nprobe, len(cent))

    def probe(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            pdf = _drop_null_vecs(pdf, vec_col)
            if len(pdf) == 0:
                continue
            mat = _norm_rows(
                np.asarray(
                    [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
                )
            )
            sims = mat @ cent.T  # (rows, k)
            # nprobe nearest centroid ids per query, exploded to one row each
            top = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe]
            yield pd.DataFrame(
                {
                    "cid": top.reshape(-1).astype(np.int32),
                    "qid": pdf[id_col].to_numpy().repeat(nprobe),
                    "qv": pdf[vec_col].to_numpy().repeat(nprobe),
                }
            )

    id_type = dict(queries.dtypes)[id_col]
    vec_type = dict(queries.dtypes)[vec_col]
    probes = queries.select(id_col, vec_col).mapInPandas(
        probe, f"cid int, qid {id_type}, qv {vec_type}"
    )
    inv = _ivf_assign(corpus, cent, id_col, vec_col)
    # each corpus vector lives in exactly ONE list, so (qid, cand) never
    # duplicates across probed lists — no dedup shuffle needed
    return (
        probes.join(inv, "cid")
        .where(F.col("qid") != F.col("cand"))
        .select("qid", "cand", cosine_col(F.col("qv"), F.col("cv")).alias("cosine"))
    )


def cosine_dedup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    bits: int = 10,
    n_tables: int = 6,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int | None = None,
) -> DataFrame:
    """Embedding near-duplicate pairs: (id_a, id_b, cosine >= threshold).
    Bucket-join candidates + exact verify; near-dups (cosine ~1) collide in some
    table with probability ~1 - (1 - (1-theta/pi)^bits)^... -> high for small
    theta. ``max_bucket`` skew-caps the self-join (see ``_cap_buckets``)."""
    b = _cap_buckets(
        with_rp_buckets(df, bits, n_tables, seed, id_col, vec_col), max_bucket
    )
    left = b.select(F.col("id").alias("id_a"), "table", "bucket")
    right = b.select(F.col("id").alias("id_b"), "table", "bucket")
    cand = (
        left.join(right, ["table", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", cosine_col(F.col("va"), F.col("vb")).alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )


def semantic_dedup_kept(
    df: DataFrame,
    threshold: float = 0.95,
    method: str = "rp",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pairs: DataFrame | None = None,
    n_centroids: int = 16,
    iters: int = 3,
    seed: int = 42,
    bits: int = 10,
    n_tables: int = 6,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540): the
    KEPT corpus under the dominance rule *drop a vector iff some smaller-id
    vector sits at cosine >= threshold* — deterministic, order-free, and
    restatable in SQL (``NOT EXISTS`` a dominating neighbor), so the exact form
    can face a relational oracle row-for-row. Returns ``df``'s surviving rows
    with all original columns.

    Candidate generation (what bounds the pair volume at 10^12 rows):

    - ``method="exact"``: all-pairs broadcast self-join — oracle twin and small
      corpora only (the only all-pairs path, deliberately broadcast-bounded).
    - ``method="rp"`` (default): RP-LSH bucket candidates + exact verify
      (``cosine_dedup_pairs``) — finds cross-corpus near-dups wherever they
      fall; recall follows the hyperplane collision bound.
    - ``method="ivf"``: the published SemDeDup shape — spherical k-means
      partitions the corpus, and each vector is compared against its inverted
      list's min-id REPRESENTATIVE only: O(m) cosines per cluster (never
      pairwise), skew-proof by construction; duplicates split across cluster
      boundaries are out of scope by design (the paper's accepted tradeoff,
      mitigated by raising ``n_centroids`` more slowly than corpus size).

    Pass ``pairs`` (schema ``id_a < id_b``, already thresholded) to bring your
    own candidate frame — e.g. rounded cosines for cross-engine boundary
    determinism — and skip generation entirely.
    """
    if pairs is None:
        if method == "rp":
            pairs = cosine_dedup_pairs(
                df, threshold, bits, n_tables, seed, id_col, vec_col
            )
        elif method == "exact":
            a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
            b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
            pairs = (
                a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
                .select(
                    "id_a",
                    "id_b",
                    cosine_col(F.col("_va"), F.col("_vb")).alias("cosine"),
                )
                .where(F.col("cosine") >= threshold)
            )
        elif method == "ivf":
            if centroids is None:
                centroids = ivf_train_centroids(
                    df, n_centroids, iters, seed, id_col, vec_col
                )
            inv = _ivf_assign(df, centroids, id_col, vec_col)
            reps = inv.groupBy("cid").agg(F.min("cand").alias("id_a"))
            rep_vecs = reps.join(
                inv.select("cid", F.col("cand").alias("id_a"), F.col("cv").alias("_va")),
                ["cid", "id_a"],
            )
            # one row per (member, its cluster representative): O(m) per list
            pairs = (
                inv.join(rep_vecs, "cid")
                .where(F.col("cand") > F.col("id_a"))
                .select(
                    "id_a",
                    F.col("cand").alias("id_b"),
                    cosine_col(F.col("_va"), F.col("cv")).alias("cosine"),
                )
                .where(F.col("cosine") >= threshold)
            )
        else:
            raise ValueError(f"semantic_dedup_kept: unknown method {method!r}")
    dropped = pairs.select(F.col("id_b").alias(id_col))
    return df.join(dropped, id_col, "left_anti")
