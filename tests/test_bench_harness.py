"""Smoke coverage for the bench harness itself (round-5: the evidence
harnesses are load-bearing — a silent harness bug corrupts every number built
on it, so the incremental legs get the same bitrot protection as operators).

Timing VALUES are not asserted (this is a correctness smoke, not a benchmark);
what is pinned: the legs run end-to-end on a real Spark session, produce
positive walls, per-run lists of the requested length, and clean up their
store directories and cached frames.
"""

from __future__ import annotations

import glob
import tempfile

import bench


def _persistent_rdd_ids(spark) -> set[int]:
    jmap = spark.sparkContext._jsc.sc().getPersistentRDDs()
    it = jmap.keysIterator()
    ids = set()
    while it.hasNext():
        ids.add(it.next())
    return ids


def test_bench_incremental_smoke(spark, monkeypatch):
    monkeypatch.setattr(bench, "COOLDOWN_SEC", 0)
    before_dirs = set(glob.glob(tempfile.gettempdir() + "/bench_*"))
    # compare persistent-RDD IDs before vs after — NOT "storage is empty":
    # the shared session-scoped fixtures legitimately keep caches alive, so
    # an absolute-empty assert is order-dependent across the suite
    before_rdds = _persistent_rdd_ids(spark)
    out = bench.bench_incremental(
        spark, "/root/testdata/sf0.001", replicate=1, n_passes=1
    )
    runs = out.pop("_runs")
    paths = out.pop("_paths")
    assert set(out) == {"delta_dedup", "streaming_incremental"}
    # one increment and one 4-micro-batch stream, each tagged with its path
    assert paths["delta_dedup"] in (["driver"], ["spark"])
    (stream_paths,) = paths["streaming_incremental"]
    assert len(stream_paths) == 4
    assert set(stream_paths) <= {"driver", "spark"}
    for name, wall in out.items():
        assert wall > 0, name
        assert len(runs[name]) == 1, name
        assert min(runs[name]) > 0, name
    # work dirs removed (fresh store per run — rerunning a used store would
    # grow it and time a different job)
    after_dirs = set(glob.glob(tempfile.gettempdir() + "/bench_*"))
    assert after_dirs == before_dirs
    # no NEW cached frames leaked into executor storage
    leaked = _persistent_rdd_ids(spark) - before_rdds
    assert not leaked, f"bench_incremental leaked cached RDDs: {leaked}"


def test_scaling_aba_order():
    """The scaling bench's per-trial order must bracket the slowest level with
    the next level up on both sides for ANY level set (the old ladder silently
    skipped bracketing for unlisted combinations)."""
    import sys

    sys.path.insert(0, "tools")
    from scaling_bench import _aba_order

    assert _aba_order([1, 4, 16]) == [4, 1, 4, 16]
    assert _aba_order([1, 4]) == [4, 1, 4]
    assert _aba_order([4, 16]) == [16, 4, 16]
    assert _aba_order([1, 16]) == [16, 1, 16]   # previously unbracketed
    assert _aba_order([2, 8, 32]) == [8, 2, 8, 32]
    assert _aba_order([4]) == [4]
