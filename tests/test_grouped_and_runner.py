"""Group-scoped dedup (the reference's per-forum runs, SURVEY U1) and the
spark-submit CLI entry point (north_rule: "runs launch via spark-submit
--py-files")."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import zipfile

import pytest
from pyspark.sql import functions as F

from cqaduplicatefind_spark.config import DedupConfig
from cqaduplicatefind_spark.plans.pipeline import (
    candidate_stage,
    run_pipeline,
    signature_stage,
)


@pytest.fixture(scope="module")
def grouped_pages(spark):
    """Two groups ('android', 'gaming') with IDENTICAL texts across groups: the
    sharpest test that group scoping severs cross-group candidates."""
    rows = []
    for g in ("android", "gaming"):
        for i in range(30):
            base = f"doc {i} " + " ".join(f"tok{i}w{j}" for j in range(20))
            rows.append((f"{g}-{i}-orig", base, g))
            rows.append((f"{g}-{i}-dup", base + " extra", g))  # near-dup within group
    return spark.createDataFrame(rows, "url string, text string, group string").cache()


def _cfg():
    return DedupConfig(shingle_k=3, jaccard_threshold=0.7,
                       shuffle_partitions=8, signature_partitions=8)


def test_grouped_candidates_never_cross_groups(spark, grouped_pages):
    cfg = _cfg()
    sigs = signature_stage(grouped_pages, cfg, group_col="group")
    pairs = candidate_stage(sigs, cfg, group_col="group")
    side = grouped_pages.select("url", "group")
    crossed = (
        pairs.join(side.withColumnsRenamed({"url": "id_a", "group": "ga"}), "id_a")
        .join(side.withColumnsRenamed({"url": "id_b", "group": "gb"}), "id_b")
        .where(F.col("ga") != F.col("gb"))
        .count()
    )
    assert crossed == 0
    assert pairs.count() > 0  # within-group dups still found

    # the combined ("full corpus") run DOES link identical docs across groups
    combined = candidate_stage(signature_stage(grouped_pages, cfg), cfg)
    crossed_combined = (
        combined.join(side.withColumnsRenamed({"url": "id_a", "group": "ga"}), "id_a")
        .join(side.withColumnsRenamed({"url": "id_b", "group": "gb"}), "id_b")
        .where(F.col("ga") != F.col("gb"))
        .count()
    )
    assert crossed_combined > 0


def test_grouped_pipeline_equals_per_group_runs(spark, grouped_pages):
    """One grouped job == the reference's per-forum loop, cluster-for-cluster."""
    cfg = _cfg()
    grouped = run_pipeline(spark, grouped_pages, cfg, group_col="group").clusters

    per_group = None
    for g in ("android", "gaming"):
        sub = grouped_pages.where(F.col("group") == g)
        c = run_pipeline(spark, sub, cfg).clusters
        per_group = c if per_group is None else per_group.unionByName(c)

    assert grouped.exceptAll(per_group).count() == 0
    assert per_group.exceptAll(grouped).count() == 0


def test_null_group_docs_still_dedup(spark):
    """A NULL group value must behave as one ordinary group, not a recall
    hole: the bucket windows count NULL-keyed rows but the pairing equi-join's
    EqualTo would silently drop them (null_safe_group pins the fix). Identical
    docs with NULL group must cluster together — and never with any named
    group's docs."""
    cfg = _cfg()
    rows = []
    base = "shared text " + " ".join(f"w{j}" for j in range(20))
    for g in ("android", None):
        tag = g or "nullg"
        rows.append((f"{tag}-orig", base, g))
        rows.append((f"{tag}-dup", base + " extra", g))
    pages = spark.createDataFrame(rows, "url string, text string, group string")
    result = run_pipeline(spark, pages, cfg, group_col="group")
    clusters = {r.url: r.cluster_id for r in result.clusters.collect()}
    result.release()
    assert clusters["nullg-orig"] == clusters["nullg-dup"]  # the recall hole
    assert clusters["android-orig"] == clusters["android-dup"]
    assert clusters["nullg-orig"] != clusters["android-orig"]  # still scoped


@pytest.mark.skipif(shutil.which("spark-submit") is None, reason="no spark-submit")
def test_spark_submit_runner(tmp_path_factory):
    """Launch the pipeline exactly as the north_rule mandates: spark-submit
    --py-files <package.zip> run.py --input ... --output ..."""
    tmp = tmp_path_factory.mktemp("runner")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    # package the engine as a --py-files zip
    pkg_zip = str(tmp / "cqaduplicatefind_spark.zip")
    pkg_dir = os.path.join(repo, "cqaduplicatefind_spark")
    with zipfile.ZipFile(pkg_zip, "w") as zf:
        for root, _, files in os.walk(pkg_dir):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    zf.write(full, os.path.relpath(full, repo))

    # small input parquet: 3 exact-dup pairs + singletons
    import duckdb

    rows = []
    for i in range(40):
        text = f"row {i} " + " ".join(f"w{i}x{j}" for j in range(15))
        rows.append((f"u{i}", text))
        if i < 3:
            rows.append((f"u{i}-copy", text))
    duckdb.sql(
        "SELECT * FROM (VALUES "
        + ", ".join(f"('{u}', '{t}')" for u, t in rows)
        + ") AS t(url, text)"
    ).write_parquet(str(tmp / "pages.parquet"))

    out = str(tmp / "out")
    env = dict(os.environ)
    env["SPARK_GRAFT_LOCAL_DIR"] = str(tmp / "spark-local")
    proc = subprocess.run(
        [
            "spark-submit",
            "--master", "local[4]",
            "--conf", "spark.ui.enabled=false",
            "--conf", "spark.sql.shuffle.partitions=8",
            "--py-files", pkg_zip,
            os.path.join(repo, "cqaduplicatefind_spark", "run.py"),
            "--input", str(tmp / "pages.parquet"),
            "--output", out,
            "--warehouse", str(tmp / "warehouse"),
            "--shingle-k", "3",
            "--jaccard-threshold", "0.7",
            "--shuffle-partitions", "8",
        ],
        capture_output=True,
        text=True,
        timeout=420,
        cwd=str(tmp),  # NOT the repo: proves the zip supplies the package
        env=env,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]

    metrics = json.load(open(f"{out}/metrics.json"))
    assert metrics["n_docs"] == 43
    # 3 duplicate pairs -> 3 non-root members (cluster_id = min member id)
    assert metrics["n_nontrivial_members"] == 3
    assert metrics["n_edges"] >= 3

    # resumability: second run against the same warehouse reuses every stage
    proc2 = subprocess.run(
        [
            "spark-submit", "--master", "local[4]",
            "--conf", "spark.ui.enabled=false",
            "--py-files", pkg_zip,
            os.path.join(repo, "cqaduplicatefind_spark", "run.py"),
            "--input", str(tmp / "pages.parquet"),
            "--output", out,
            "--warehouse", str(tmp / "warehouse"),
            "--shingle-k", "3",
            "--jaccard-threshold", "0.7",
            "--shuffle-partitions", "8",
        ],
        capture_output=True, text=True, timeout=420, cwd=str(tmp), env=env,
    )
    assert proc2.returncode == 0, proc2.stderr[-4000:]
    m2 = json.load(open(f"{out}/metrics.json"))
    assert m2["n_nontrivial_members"] == 3


def test_runner_releases_persisted_frames(spark, tmp_path):
    """run.main() must release the pipeline's cached frames after the outputs
    and metrics are written: a long-lived session re-invoking the runner
    (notebook driver, repeated --resume runs) would otherwise accrete executor
    storage per invocation. Compare the session's persisted-RDD set before and
    after — the runner may add NOTHING to it."""
    from cqaduplicatefind_spark import run as run_mod

    rows = []
    for i in range(30):
        text = f"row {i} " + " ".join(f"w{i}x{j}" for j in range(15))
        rows.append((f"u{i}", text))
        if i < 2:
            rows.append((f"u{i}-copy", text))
    spark.createDataFrame(rows, "url string, text string").write.parquet(
        str(tmp_path / "pages.parquet")
    )

    before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    rc = run_mod.main(
        [
            "--input", str(tmp_path / "pages.parquet"),
            "--output", str(tmp_path / "out"),
            "--shingle-k", "3",
            "--jaccard-threshold", "0.7",
            "--shuffle-partitions", "8",
        ]
    )
    assert rc == 0
    after = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    leaked = after - before
    assert not leaked, f"runner leaked persisted RDD ids: {sorted(leaked)}"
