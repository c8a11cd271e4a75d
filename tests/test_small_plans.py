"""Small plans run non-adaptive (``session.small_plans``): the scope follows
the band-row bound, the caller's ``spark.sql.adaptive.enabled`` survives every
exit path, and inputs above ``config.DRIVER_MAX_ROWS`` keep AQE."""

from __future__ import annotations

import os

import pyarrow as pa
import pytest
from pyspark.sql.classic.dataframe import DataFrame

from cqaduplicatefind_spark import config
from cqaduplicatefind_spark.config import DedupConfig
from cqaduplicatefind_spark.plans import pipeline
from cqaduplicatefind_spark.plans.delta import delta_dedup, signature_frame
from cqaduplicatefind_spark.session import non_adaptive_count, small_plans
from cqaduplicatefind_spark.streaming.incremental import (
    IncrementalDedup,
    _observed_rows,
    run_incremental_dedup,
)
from cqaduplicatefind_spark.streaming.store import PartStore, store_roots

AQE = "spark.sql.adaptive.enabled"
CFG = DedupConfig(shingle_k=3, jaccard_threshold=0.7, shuffle_partitions=4)
BASE = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5


def _rows(i):
    return [(f"fam{i}", BASE + f"tail{i}"), (f"noise{i}", f"zz{i} qq " * 30)]


def _pages(spark, i):
    return spark.createDataFrame(_rows(i), "url string, text string")


def _root_node(df) -> str:
    return df._jdf.queryExecution().executedPlan().getClass().getSimpleName()


@pytest.fixture
def caller_aqe(spark, request):
    """Run the test with the caller's AQE setting ``request.param`` and put
    the session's own setting back afterwards."""
    prev = spark.conf.get(AQE)
    spark.conf.set(AQE, request.param)
    yield request.param
    spark.conf.set(AQE, prev)


@pytest.fixture
def match_writes(monkeypatch):
    """Spy on the matches store's appends: per write, the caller session's
    AQE setting and the root node of the edge frame's executed plan
    (``"pyarrow"`` for an Arrow table the driver path writes)."""
    seen: list[tuple[str, str]] = []
    real = PartStore.append

    def spy(self, batch_id, frame, n_rows=None):
        if os.path.basename(self.root) == "matches":
            root = "pyarrow" if isinstance(frame, pa.Table) else _root_node(frame)
            seen.append((self.spark.conf.get(AQE), root))
        return real(self, batch_id, frame, n_rows)

    monkeypatch.setattr(PartStore, "append", spy)
    return seen


@pytest.fixture
def collects(monkeypatch):
    """Spy on ``DataFrame.toArrow``, the driver path's collects: per
    collect, the frame's session AQE setting and its executed plan's root
    node."""
    seen: list[tuple[str, str]] = []
    real = DataFrame.toArrow

    def spy(self):
        seen.append((self.sparkSession.conf.get(AQE), _root_node(self)))
        return real(self)

    monkeypatch.setattr(DataFrame, "toArrow", spy)
    return seen


def _non_adaptive(plans) -> bool:
    return bool(plans) and all(
        aqe == "false" and "Adaptive" not in root for aqe, root in plans
    )


def test_scope_follows_the_bound_and_restores(spark):
    spark.conf.set(AQE, "true")
    with small_plans(spark, config.DRIVER_MAX_ROWS):
        assert spark.conf.get(AQE) == "false"
    assert spark.conf.get(AQE) == "true"
    with small_plans(spark, config.DRIVER_MAX_ROWS + 1):
        assert spark.conf.get(AQE) == "true"
    with pytest.raises(RuntimeError):
        with small_plans(spark, 1):
            raise RuntimeError("boom")
    assert spark.conf.get(AQE) == "true"
    assert non_adaptive_count(spark.range(7).repartition(3)) == 7
    assert spark.conf.get(AQE) == "true"
    # a caller that already runs non-adaptive is never switched on
    spark.conf.set(AQE, "false")
    try:
        with small_plans(spark, 1):
            assert spark.conf.get(AQE) == "false"
        assert spark.conf.get(AQE) == "false"
        assert non_adaptive_count(spark.range(7)) == 7
        assert spark.conf.get(AQE) == "false"
    finally:
        spark.conf.set(AQE, "true")


def test_sizing_count_keeps_the_cache_build_adaptive(spark):
    """The count's plan is non-adaptive; the cache it fills was planned at
    ``persist()`` under the caller's AQE and still adapts when it runs."""
    spark.conf.set(AQE, "true")
    df = spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count()
    df = df.persist()
    try:
        assert non_adaptive_count(df) == 7
        cache = spark._jsparkSession.sharedState().cacheManager()
        built = (
            cache.lookupCachedData(df._jdf).get().cachedRepresentation()
            .cacheBuilder().cachedPlan()
        )
        assert built.getClass().getSimpleName() == "AdaptiveSparkPlanExec"
        # the build ran through its adaptive query stages
        assert "isFinalPlan=true" in built.toString()
    finally:
        df.unpersist()


def test_missing_observed_metric_falls_back_to_the_count(spark):
    class Empty:
        get: dict = {}

    assert _observed_rows(Empty(), spark.range(5)) == 5


@pytest.mark.parametrize("caller_aqe", ["true", "false"], indirect=True)
def test_process_batch_below_bound_runs_non_adaptive(
    spark, tmp_path, caller_aqe, match_writes, collects
):
    dedup = IncrementalDedup(spark, CFG, *store_roots(str(tmp_path)))
    for i in range(2):
        dedup.process_batch(signature_frame(_pages(spark, i), CFG), i)
    assert [aqe for aqe, _ in match_writes] == ["false", "false"]
    assert not any("Adaptive" in root for _, root in match_writes)
    assert _non_adaptive(collects)
    assert spark.conf.get(AQE) == caller_aqe
    assert {(r.id_a, r.id_b) for r in dedup.matches().collect()} == {
        ("fam0", "fam1")
    }


def test_process_batch_above_bound_stays_adaptive(
    spark, tmp_path, monkeypatch, match_writes
):
    # two docs x 16 bands = 32 band rows: over a bound of 31
    monkeypatch.setattr(config, "DRIVER_MAX_ROWS", 2 * CFG.bands - 1)
    dedup = IncrementalDedup(spark, CFG, *store_roots(str(tmp_path)))
    for i in range(2):
        dedup.process_batch(signature_frame(_pages(spark, i), CFG), i)
    assert [aqe for aqe, _ in match_writes] == ["true", "true"]
    # the first batch has no candidates: its edge plan folds to a local scan
    assert match_writes[-1][1] == "AdaptiveSparkPlanExec"
    assert spark.conf.get(AQE) == "true"


@pytest.mark.parametrize("caller_aqe", ["true", "false"], indirect=True)
def test_conf_restored_when_the_batch_raises_mid_write(
    spark, tmp_path, monkeypatch, caller_aqe
):
    dedup = IncrementalDedup(spark, CFG, *store_roots(str(tmp_path)))

    def explode(*a, **kw):
        assert spark.conf.get(AQE) == "false"
        raise OSError("injected crash: matches write")

    monkeypatch.setattr(dedup.match_store, "append", explode)
    with pytest.raises(OSError, match="injected crash"):
        dedup.process_batch(signature_frame(_pages(spark, 0), CFG), 0)
    assert spark.conf.get(AQE) == caller_aqe


@pytest.mark.parametrize("caller_aqe", ["true", "false"], indirect=True)
def test_delta_dedup_restores_conf(spark, tmp_path, monkeypatch, caller_aqe):
    work = str(tmp_path)
    delta_dedup(spark, _pages(spark, 0), CFG, work, batch_id=0)
    res = delta_dedup(spark, _pages(spark, 1), CFG, work, batch_id=1)
    assert {(r.id_a, r.id_b) for r in res.edges.collect()} == {("fam0", "fam1")}
    assert spark.conf.get(AQE) == caller_aqe

    def explode(self, *a, **kw):
        raise OSError("injected crash: store write")

    monkeypatch.setattr(PartStore, "append", explode)
    with pytest.raises(OSError, match="injected crash"):
        delta_dedup(spark, _pages(spark, 2), CFG, work, batch_id=2)
    assert spark.conf.get(AQE) == caller_aqe


def test_foreach_batch_path_runs_non_adaptive(
    spark, tmp_path, match_writes, collects
):
    src = str(tmp_path / "incoming")
    for i in range(2):
        _pages(spark, i).write.mode("append").parquet(src)
    stream = spark.readStream.schema("url string, text string").parquet(src)
    q, dedup = run_incremental_dedup(
        spark, stream, CFG, str(tmp_path / "work"),
    )
    q.awaitTermination(120)
    assert q.exception() is None
    assert _non_adaptive(match_writes)
    assert _non_adaptive(collects)
    assert spark.conf.get(AQE) == "true"
    assert {(r.id_a, r.id_b) for r in dedup.matches().collect()} == {
        ("fam0", "fam1")
    }


def test_batch_from_another_session_scopes_both(spark, tmp_path, monkeypatch):
    """A foreachBatch frame belongs to the stream's cloned session; a batch
    built on a second session stands in for it here."""
    other = spark.newSession()
    dedup = IncrementalDedup(spark, CFG, *store_roots(str(tmp_path)))
    seen: list[tuple[str, str]] = []
    real = dedup.band_store.append

    def spy(batch_id, frame, n_rows=None):
        seen.append((spark.conf.get(AQE), other.conf.get(AQE)))
        return real(batch_id, frame, n_rows)

    monkeypatch.setattr(dedup.band_store, "append", spy)
    for i in range(2):
        dedup.process_batch(signature_frame(_pages(other, i), CFG), i)
    assert seen == [("false", "false")] * 2
    assert spark.conf.get(AQE) == other.conf.get(AQE) == "true"
    assert {(r.id_a, r.id_b) for r in dedup.matches().collect()} == {
        ("fam0", "fam1")
    }


def _spy_candidates(monkeypatch) -> list[str]:
    """Root plan nodes of the candidate frames run_pipeline builds. Pins the
    pass to the Spark path: below the bound, ``driver_pair_stage`` would
    otherwise pair on the driver and build no candidate plan."""
    monkeypatch.setattr(pipeline, "driver_pair_stage", lambda *a, **kw: None)
    roots: list[str] = []
    real = pipeline.candidate_stage

    def spy(*a, **kw):
        df = real(*a, **kw)
        roots.append(_root_node(df))
        return df

    monkeypatch.setattr(pipeline, "candidate_stage", spy)
    return roots


@pytest.mark.parametrize("caller_aqe", ["true", "false"], indirect=True)
def test_run_pipeline_below_bound_runs_non_adaptive(
    spark, cfg, tiny_fixture, monkeypatch, caller_aqe
):
    roots = _spy_candidates(monkeypatch)
    result = pipeline.run_pipeline(spark, tiny_fixture[0], cfg)
    try:
        assert spark.conf.get(AQE) == caller_aqe
        assert roots and not any("Adaptive" in r for r in roots)
        assert result.clusters.count() == tiny_fixture[0].count()
    finally:
        result.release()


def test_run_pipeline_above_bound_stays_adaptive(
    spark, cfg, tiny_fixture, monkeypatch
):
    monkeypatch.setattr(config, "DRIVER_MAX_ROWS", 0)
    roots = _spy_candidates(monkeypatch)
    pipeline.run_pipeline(spark, tiny_fixture[0], cfg).release()
    assert roots[0] == "AdaptiveSparkPlanExec"
    assert spark.conf.get(AQE) == "true"


def test_run_pipeline_restores_conf_when_a_stage_raises(
    spark, cfg, tiny_fixture, monkeypatch
):
    def explode(*a, **kw):
        assert spark.conf.get(AQE) == "false"
        raise RuntimeError("injected failure: candidates")

    # pinned to the Spark path, whose candidate stage raises
    monkeypatch.setattr(pipeline, "driver_pair_stage", lambda *a, **kw: None)
    monkeypatch.setattr(pipeline, "candidate_stage", explode)
    with pytest.raises(RuntimeError, match="injected failure"):
        pipeline.run_pipeline(spark, tiny_fixture[0], cfg)
    assert spark.conf.get(AQE) == "true"


def test_run_pipeline_restores_conf_when_the_driver_stage_raises(
    spark, cfg, tiny_fixture, monkeypatch
):
    def explode(*a, **kw):
        assert spark.conf.get(AQE) == "false"
        raise RuntimeError("injected failure: driver pairs")

    monkeypatch.setattr(pipeline, "driver_pair_stage", explode)
    with pytest.raises(RuntimeError, match="injected failure"):
        pipeline.run_pipeline(spark, tiny_fixture[0], cfg)
    assert spark.conf.get(AQE) == "true"
