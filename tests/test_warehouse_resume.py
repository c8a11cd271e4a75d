"""Checkpointed stage tables: atomic commit, lineage, idempotent resume.

north_rule: "checkpoint per-partition lineage + signature/pair/cluster metrics ...
so any stage resumes idempotently after failure"."""

import json
import os

import pytest
from pyspark.sql import functions as F

from cqaduplicatefind_spark.config import DedupConfig
from cqaduplicatefind_spark.plans.pipeline import run_pipeline
from cqaduplicatefind_spark.sources.warehouse import Warehouse
from fixtures import cluster_exact_match


@pytest.fixture
def wh(tmp_path, cfg):
    return Warehouse(root=str(tmp_path / "warehouse"), config_fingerprint=cfg.fingerprint())


def test_atomic_write_and_manifest(spark, wh):
    df = spark.range(100).select(F.col("id"), (F.col("id") * 2).alias("v"))
    manifest = wh.write(df, "t1")
    assert manifest["row_count"] == 100
    assert manifest["config_fingerprint"] == wh.config_fingerprint
    assert manifest["partitions"]  # per-partition lineage recorded
    back = wh.read(spark, "t1")
    assert back.count() == 100
    assert wh.exists("t1")


def test_resume_skips_committed_stage(spark, wh):
    calls = []

    def compute():
        calls.append(1)
        return spark.range(10).select("id")

    wh.get_or_compute(spark, "stage_a", compute)
    wh.get_or_compute(spark, "stage_a", compute)
    assert len(calls) == 1  # second run resumed from the checkpoint


def test_config_change_invalidates(spark, tmp_path):
    w1 = Warehouse(str(tmp_path / "w"), "fp_one")
    w2 = Warehouse(str(tmp_path / "w"), "fp_two")
    w1.write(spark.range(5).select("id"), "t")
    assert w1.exists("t")
    assert not w2.exists("t")  # different dup-semantics config: stale table ignored


def test_pipeline_resume_identical_clusters(spark, tiny_fixture, cfg, tmp_path):
    """Kill-after-stage-k simulation: run to completion, delete downstream stages,
    re-run — resumed result must equal the uninterrupted one (and gold)."""
    pages, _, gold_clusters = tiny_fixture
    wh = Warehouse(str(tmp_path / "wh"), cfg.fingerprint())

    full = run_pipeline(spark, pages, cfg, warehouse=wh)
    first = sorted((r.url, r.cluster_id) for r in full.clusters.collect())
    assert full.stage_metrics["signatures"] == pages.count()
    assert full.stage_metrics["clusters"] == pages.count()

    # simulate failure after the candidate stage: drop everything downstream
    for t in ("scored_pairs", "dup_edges", "clusters"):
        wh.drop(t)
    # signatures + candidate_pairs survive; resume recomputes only downstream
    resumed = run_pipeline(spark, pages, cfg, warehouse=wh)
    second = sorted((r.url, r.cluster_id) for r in resumed.clusters.collect())
    assert first == second
    assert cluster_exact_match(resumed.clusters, gold_clusters)


def test_resume_does_not_recompute_upstream(spark, tiny_fixture, cfg, tmp_path):
    pages, _, _ = tiny_fixture
    wh = Warehouse(str(tmp_path / "wh2"), cfg.fingerprint())
    run_pipeline(spark, pages, cfg, warehouse=wh)
    sig_dir = os.path.join(str(tmp_path / "wh2"), "signatures")
    mtime_before = os.path.getmtime(os.path.join(sig_dir, "_manifest.json"))
    wh.drop("clusters")
    run_pipeline(spark, pages, cfg, warehouse=wh)
    mtime_after = os.path.getmtime(os.path.join(sig_dir, "_manifest.json"))
    assert mtime_before == mtime_after  # signatures untouched by the resume


def test_input_change_invalidates(spark, tmp_path):
    """Re-running against DIFFERENT input data with the same warehouse + config
    must recompute, not resume from the old input's checkpoints."""
    from cqaduplicatefind_spark.sources.warehouse import input_fingerprint_for

    in_a = str(tmp_path / "in_a")
    in_b = str(tmp_path / "in_b")
    spark.range(10).write.parquet(in_a)
    spark.range(20).write.parquet(in_b)
    fp_a = input_fingerprint_for(spark.read.parquet(in_a), in_a)
    fp_b = input_fingerprint_for(spark.read.parquet(in_b), in_b)
    assert fp_a != fp_b

    w_a = Warehouse(str(tmp_path / "w"), "fp", input_fingerprint=fp_a)
    w_b = Warehouse(str(tmp_path / "w"), "fp", input_fingerprint=fp_b)
    w_a.write(spark.range(10).select("id"), "t")
    assert w_a.exists("t")
    assert not w_b.exists("t")  # same config, different input: stale table ignored


def test_parallelism_change_does_not_invalidate_fingerprint():
    """Execution-tuning knobs (shuffle width) are not duplicate semantics: a
    resume after changing parallelism must reuse checkpoints; changing any
    semantic knob must not."""
    base = DedupConfig()
    assert (
        DedupConfig(shuffle_partitions=256, signature_partitions=256).fingerprint()
        == base.fingerprint()
    )
    assert DedupConfig(shingle_k=7).fingerprint() != base.fingerprint()
    assert DedupConfig(jaccard_threshold=0.9).fingerprint() != base.fingerprint()
    assert DedupConfig(max_band_group=16).fingerprint() != base.fingerprint()


def test_manifest_json_readable(spark, wh):
    wh.write(spark.range(7).select("id"), "m")
    d = wh.manifest("m")
    assert json.dumps(d)  # serializable
    assert d["table"] == "m"
    assert d["row_count"] == 7


def test_commit_crash_windows_recoverable(spark, wh, monkeypatch):
    """White-box fault injection into the rename-rename commit: the docstring
    claims every instant has a complete table either committed or recoverable
    and the stale ``.__old__`` is swept on the next write. Inject a crash
    (b) between ``final -> .__old__`` and ``tmp -> final`` (no committed
    table, but the old commit is complete under ``.__old__`` and resume
    recomputes), and (c) after ``tmp -> final`` but before the ``.__old__``
    sweep (commit complete, stale dir swept by the next write)."""
    df1 = spark.range(50).select(F.col("id"), (F.col("id") * 2).alias("v"))
    df2 = spark.range(60).select(F.col("id"), (F.col("id") * 3).alias("v"))
    wh.write(df1, "t")
    final = wh._dir("t")
    old = final + ".__old__"

    # ---- window (b): crash between the two renames -----------------------
    real_rename, armed = os.rename, {"on": True}

    def exploding_rename(src, dst):
        if armed["on"] and str(src).endswith(".__tmp__"):
            armed["on"] = False
            raise OSError("injected crash: swap")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", exploding_rename)
    with pytest.raises(OSError, match="injected crash"):
        wh.write(df2, "t")
    # no committed table — but the prior commit is COMPLETE under .__old__
    # (data + manifest), recoverable by a rename; resume sees a cache miss
    assert not os.path.exists(final)
    assert os.path.exists(os.path.join(old, "_manifest.json"))
    assert spark.read.parquet(old).count() == 50
    assert not wh.exists("t")
    # self-heal: get_or_compute recomputes and commits; the stale .__old__
    # (and the leftover .__tmp__) are swept by the write path
    got = wh.get_or_compute(spark, "t", lambda: df2)
    assert got.count() == 60
    assert wh.exists("t")
    assert not os.path.exists(old)
    assert not os.path.exists(final + ".__tmp__")

    # ---- window (c): crash after commit, before the .__old__ sweep -------
    import shutil

    real_rmtree, armed_rm = shutil.rmtree, {"on": False}

    def exploding_rmtree(path, *a, **kw):
        if armed_rm["on"] and str(path).endswith(".__old__"):
            armed_rm["on"] = False
            raise OSError("injected crash: sweep")
        return real_rmtree(path, *a, **kw)

    monkeypatch.setattr(shutil, "rmtree", exploding_rmtree)
    armed_rm["on"] = True
    with pytest.raises(OSError, match="injected crash"):
        wh.write(df1, "t")
    # the NEW commit is complete and resumable; only the stale dir lingers
    assert wh.exists("t")
    assert wh.read(spark, "t").count() == 50
    assert os.path.exists(old)
    # next write sweeps it
    wh.write(df2, "t")
    assert not os.path.exists(old)
    assert wh.read(spark, "t").count() == 60
