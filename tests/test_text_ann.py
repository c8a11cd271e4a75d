"""Text-analysis expressions and ANN operators."""

import numpy as np
import pytest
from pyspark.sql import Window, functions as F

from cqaduplicatefind_spark.functions.text_stats import (
    distinct_tokens_expr,
    lang_id_from_tokens,
)
from cqaduplicatefind_spark.operators.ann import (
    cosine_dedup_pairs,
    cosine_topk,
    ivf_candidate_scores,
    ivf_train_centroids,
    rp_lsh_topk,
)


def test_lang_id(spark):
    rows = [
        ("e", "the cat is in the house and it is warm"),
        ("d", "der hund ist nicht in das haus und die katze"),
        ("f", "le chat est dans la maison pour les amis"),
        ("s", "el gato es una maravilla que vive con los perros"),
        ("u", "zzz qqq xxx"),
    ]
    df = spark.createDataFrame(rows, "id string, text string")
    lang = lang_id_from_tokens(distinct_tokens_expr(F.col("text")))
    got = {r.id: r.lang for r in df.select("id", lang.alias("lang")).collect()}
    assert got == {"e": "en", "d": "de", "f": "fr", "s": "es", "u": "und"}


def _vec_df(spark, n=200, d=16, seed=3):
    rng = np.random.RandomState(seed)
    base = rng.randn(n, d).astype(np.float32)
    # make ids 0..9 have near-duplicates at ids 100..109
    for i in range(10):
        base[100 + i] = base[i] + rng.randn(d).astype(np.float32) * 0.01
    rows = [(int(i), [float(x) for x in base[i]]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>"), base


def _ivf_topk(queries, corpus, k, nprobe, centroids):
    """(qid, cand, cosine, rank): the IVF probe scores ranked per query, the
    shape the ``ann_ivf_topk`` registry row builds."""
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("cand"))
    return (
        ivf_candidate_scores(queries, corpus, centroids, nprobe)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def test_cosine_topk_exact(spark):
    df, base = _vec_df(spark)
    q = df.where(F.col("vec_id") < 3)
    got = cosine_topk(q, df, k=1).collect()
    by = {r.qid: r.cand for r in got}
    # nearest neighbor of i is its planted near-dup 100+i
    assert by == {0: 100, 1: 101, 2: 102}


def test_rp_lsh_topk_finds_planted_neighbors(spark):
    df, _ = _vec_df(spark)
    q = df.where(F.col("vec_id") < 10)
    got = rp_lsh_topk(q, df, k=3, bits=8, n_tables=6)
    top1 = {r.qid: r.cand for r in got.where(F.col("rank") == 1).collect()}
    hits = sum(1 for i, c in top1.items() if c == 100 + i)
    assert hits >= 9  # near-identical vectors collide with overwhelming probability


def test_ivf_full_probe_is_exact(spark):
    # probing every inverted list degenerates to brute force: (qid, cand, rank)
    # must match cosine_topk exactly, regardless of centroid quality (k-means
    # only partitions the corpus; full probe reads every partition)
    df, _ = _vec_df(spark)
    q = df.where(F.col("vec_id") < 5)
    exact = {(r.qid, r.cand, r.rank) for r in cosine_topk(q, df, k=3).collect()}
    cent = ivf_train_centroids(df, n_centroids=8, iters=2, seed=1)
    ivf = {
        (r.qid, r.cand, r.rank)
        for r in _ivf_topk(q, df, k=3, nprobe=8, centroids=cent).collect()
    }
    assert ivf == exact


def test_ivf_partial_probe_recall(spark):
    # a near-identical vector lands in the same cell as its twin, and a query's
    # nearest cell is its own: top-1 recall on the planted pairs survives
    # probing only 2 of 8 lists
    df, _ = _vec_df(spark)
    q = df.where(F.col("vec_id") < 10)
    cent = ivf_train_centroids(df, n_centroids=8, iters=3, seed=1)
    got = _ivf_topk(q, df, k=3, nprobe=2, centroids=cent)
    top1 = {r.qid: r.cand for r in got.where(F.col("rank") == 1).collect()}
    hits = sum(1 for i, c in top1.items() if c == 100 + i)
    assert hits >= 9
    # candidate volume is bounded by the probed lists, not the corpus: every
    # query scores at most the TWO LARGEST inverted lists' worth of rows, and
    # that bound is a real restriction (well under the 199 a degenerate
    # quantizer scoring the whole corpus minus self would produce)
    from cqaduplicatefind_spark.operators.ann import _ivf_assign

    cell_sizes = sorted(
        (r["count"] for r in _ivf_assign(df, cent, "vec_id", "embedding")
         .groupBy("cid").count().collect()),
        reverse=True,
    )
    two_largest = sum(cell_sizes[:2])
    assert two_largest < 199  # the quantizer actually partitioned the corpus
    per_q = (
        _ivf_topk(q, df, k=10_000, nprobe=2, centroids=cent)
        .groupBy("qid")
        .count()
        .collect()
    )
    assert all(r["count"] <= two_largest for r in per_q)


def test_ivf_empty_corpus_raises(spark):
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="empty"):
        ivf_train_centroids(empty, n_centroids=4)


def test_cosine_dedup_pairs(spark):
    df, _ = _vec_df(spark)
    pairs = {(r.id_a, r.id_b) for r in cosine_dedup_pairs(df, threshold=0.95).collect()}
    expected = {(i, 100 + i) for i in range(10)}
    assert expected <= pairs
    # no random pair sneaks past the threshold
    assert all(b - a == 100 for a, b in pairs)


def test_null_and_zero_embeddings_survive_every_path(spark):
    """A NULL, empty, or all-zero embedding row must neither crash the numpy
    batch paths (ragged object-array matmul) nor appear as a candidate: its
    cosine to anything is 0 by convention (cosine_col zero-norm guard), and
    the bucket/assign UDFs exclude it from candidate generation."""
    df, _ = _vec_df(spark)
    d = 16
    weird = spark.createDataFrame(
        [(900, None), (901, []), (902, [0.0] * d)],
        "vec_id long, embedding array<float>",
    )
    full = df.unionByName(weird)
    # exact path: scores exist, zero vector scores 0, never NULL
    got = cosine_topk(weird, full, k=3).collect()
    assert all(r.cosine == 0.0 for r in got if r.qid == 902)
    assert all(r.qid != 900 and r.qid != 901 or r.cosine == 0.0 for r in got)
    # rp path: no crash, weird rows emit no buckets -> never candidates
    rp = rp_lsh_topk(full.where(F.col("vec_id") < 10), full, k=3, bits=8,
                     n_tables=4).collect()
    assert all(r.cand not in (900, 901) for r in rp)
    # ivf: training + full probe unaffected by the weird rows
    cent = ivf_train_centroids(full, n_centroids=4, iters=2, seed=1)
    ivf = _ivf_topk(full.where(F.col("vec_id") < 5), full, k=3,
                    nprobe=4, centroids=cent).collect()
    assert len(ivf) == 15
    # dedup pairs: no crash, no weird-row pairs
    pp = cosine_dedup_pairs(full, threshold=0.95).collect()
    assert all(r.id_a not in (900, 901, 902) and r.id_b not in (900, 901, 902)
               for r in pp)


def test_rp_hot_bucket_cap_bounds_candidates(spark):
    """max_bucket drops over-sized (table, bucket) groups from the pairing
    join: a family of identical vectors (every member in the same bucket in
    EVERY table) emits C(m,2) pairs uncapped and zero pairs capped below m —
    the documented tradeoff (route such families through bucket_candidates'
    star-capped kernel if they must connect)."""
    d = 16
    rows = [(i, [1.0] + [0.0] * (d - 1)) for i in range(40)]  # identical family
    rows += [(100 + i, [float(j == i) for j in range(d)]) for i in range(1, 10)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    uncapped = cosine_dedup_pairs(df, threshold=0.99, bits=6, n_tables=2)
    assert uncapped.count() == 40 * 39 // 2
    capped = cosine_dedup_pairs(df, threshold=0.99, bits=6, n_tables=2,
                                max_bucket=8)
    assert capped.count() == 0


def test_rp_tables_draw_disjoint_streams():
    """Adjacent tables' hyperplane streams must not overlap even at high
    bits*dim (the old small additive stride shared ~14% of base values at
    bits=12, dim=768, breaking table independence)."""
    from cqaduplicatefind_spark.operators.ann import _hyperplanes

    a = _hyperplanes(768, 12, table=0, seed=42)
    b = _hyperplanes(768, 12, table=1, seed=42)
    shared = np.intersect1d(a.ravel(), b.ravel())
    assert shared.size == 0
