"""End-to-end pipeline correctness: the BASELINE.json acceptance gate.

- dup-pair recall >= 0.99 vs gold edges (pairs implied by predicted clusters)
- exact cluster-assignment match vs gold at the fixed shingle/signature config
- LSH candidates vs a brute-force all-pairs exact-Jaccard oracle (the reference's
  archive semantics, src/archive/MyReader.py:17-27) on the tiny fixture
- determinism: identical clusters under different input partitioning
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from cqaduplicatefind_spark import config
from cqaduplicatefind_spark.config import DedupConfig

from cqaduplicatefind_spark.operators.candidates import (
    all_pairs,
    band_keys,
    explode_bands,
)
from cqaduplicatefind_spark.operators.metrics import clusters_to_pairs, pair_recall
from cqaduplicatefind_spark.operators.verify import score_pairs
from cqaduplicatefind_spark.plans.pipeline import run_pipeline, signature_stage
from fixtures import cluster_exact_match


@pytest.fixture(scope="module")
def tiny_run(spark, tiny_fixture, cfg):
    pages, edges, clusters = tiny_fixture
    return run_pipeline(spark, pages, cfg), pages, edges, clusters


def test_recall_against_gold_edges(tiny_run):
    result, pages, gold_edges, _ = tiny_run
    predicted_pairs = clusters_to_pairs(result.clusters)
    row = pair_recall(predicted_pairs, gold_edges).collect()[0]
    assert row.recall >= 0.99, row.asDict()


def test_exact_cluster_match(tiny_run):
    result, _, _, gold_clusters = tiny_run
    assert cluster_exact_match(result.clusters, gold_clusters)


def test_precision_no_cross_cluster_merges(tiny_run):
    result, _, gold_edges, _ = tiny_run
    predicted_pairs = clusters_to_pairs(result.clusters)
    row = pair_recall(predicted_pairs, gold_edges).collect()[0]
    assert row.precision >= 0.99, row.asDict()


def test_small_fixture_recall_and_match(spark, small_fixture, cfg):
    pages, gold_edges, gold_clusters = small_fixture
    result = run_pipeline(spark, pages, cfg)
    predicted_pairs = clusters_to_pairs(result.clusters)
    row = pair_recall(predicted_pairs, gold_edges).collect()[0]
    assert row.recall >= 0.99, row.asDict()
    assert cluster_exact_match(result.clusters, gold_clusters)


def test_lsh_candidates_vs_bruteforce_oracle(spark, tiny_fixture, cfg):
    """Every pair with exact Jaccard >= threshold must be produced as a candidate
    (LSH probabilistic recall at this (b, r) and J >= 0.8 is ~1-1e-7 per pair)."""
    pages, _, _ = tiny_fixture
    signatures = signature_stage(pages, cfg).cache()
    brute = all_pairs(signatures)
    brute_scored = score_pairs(brute, signatures, cfg)
    truly_dup = brute_scored.where(F.col("jaccard") >= cfg.jaccard_threshold)

    from cqaduplicatefind_spark.plans.pipeline import candidate_stage

    cands = candidate_stage(signatures, cfg)
    missed = truly_dup.join(cands, ["id_a", "id_b"], "left_anti").count()
    total = truly_dup.count()
    assert total > 0
    assert missed == 0, f"LSH missed {missed}/{total} true dup pairs"


def test_determinism_under_partitioning(spark, tiny_fixture, cfg):
    pages, _, _ = tiny_fixture
    r1 = run_pipeline(spark, pages.repartition(1), cfg)
    r2 = run_pipeline(spark, pages.repartition(13), cfg)
    c1 = sorted((r.url, r.cluster_id) for r in r1.clusters.collect())
    c2 = sorted((r.url, r.cluster_id) for r in r2.clusters.collect())
    assert c1 == c2


def test_star_loop_clusters_match_driver_path(spark, tiny_run, cfg, monkeypatch):
    """Every components call forced onto the star loop (driver bound 0) gives
    the default run's clusters — on the tiny fixture, and on a corpus with a
    containment shell whose span edges run the second components job. The
    bound of 0 also puts the pair stage and the span pass on their Spark
    plans."""
    content = " ".join(f"story{j} word{j}" for j in range(25))
    shell = " ".join(f"boiler{j} nav{j}" for j in range(60))
    shell_pages = spark.createDataFrame(
        [
            ("page", content),
            ("page-copy", content + " tail"),
            ("shellpage", f"{shell} {content} {shell}"),
            ("unrelated", " ".join(f"zzz{j} yyy{j}" for j in range(85))),
        ],
        "url string, text string",
    )
    shell_cfg = DedupConfig(shingle_k=3, jaccard_threshold=0.7,
                            min_overlap_span=40, shuffle_partitions=8,
                            signature_partitions=8)
    tiny_result, tiny_pages, _, _ = tiny_run
    shell_result = run_pipeline(spark, shell_pages, shell_cfg)
    assert shell_result.overlap_edges.count() > 0
    default = [(tiny_result, tiny_pages, cfg), (shell_result, shell_pages, shell_cfg)]

    monkeypatch.setattr(config, "DRIVER_MAX_ROWS", 0)
    for result, pages, run_cfg in default:
        star = run_pipeline(spark, pages, run_cfg)
        try:
            assert sorted(star.clusters.collect()) == sorted(result.clusters.collect())
        finally:
            star.release()
    shell_result.release()


def test_band_keys_expression_equals_struct_columns(spark, cfg):
    """``band_keys``' one SQL expression gives the band rows, the per-doc
    key arrays and the schemas of the per-band ``F.struct`` construction it
    replaced, over random MinHash arrays that include INT64 min and max."""
    rng = np.random.default_rng(13)
    lo, hi = np.iinfo(np.int64).min, np.iinfo(np.int64).max
    sigs = [rng.integers(lo, hi, cfg.num_perms, endpoint=True) for _ in range(40)]
    sigs += [np.full(cfg.num_perms, lo), np.full(cfg.num_perms, hi),
             np.resize([lo, hi, 0, -1], cfg.num_perms)]
    signatures = spark.createDataFrame(
        [(f"d{i}", [int(v) for v in s]) for i, s in enumerate(sigs)],
        "url string, minhash array<bigint>",
    )
    r = cfg.rows_per_band
    structs = F.array(*[
        F.struct(
            F.lit(i).alias("band"),
            F.xxhash64(F.slice(F.col("minhash"), i * r + 1, r)).alias("bh"),
        )
        for i in range(cfg.bands)
    ])
    want = signatures.select(
        F.col("url").alias("id"), F.explode(structs).alias("bk")
    ).select("id", F.col("bk.band").alias("band"), F.col("bk.bh").alias("bh"))
    got = explode_bands(signatures, cfg)
    assert got.schema == want.schema
    rows = sorted(got.collect())
    assert len(rows) == len(sigs) * cfg.bands
    assert rows == sorted(want.collect())
    # driver_pair_stage's per-doc key array
    got_bh = signatures.select("url", band_keys(cfg).getField("bh").alias("bh"))
    want_bh = signatures.select("url", structs.getField("bh").alias("bh"))
    assert got_bh.schema == want_bh.schema
    assert sorted(got_bh.collect()) == sorted(want_bh.collect())
