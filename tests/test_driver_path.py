"""Micro-batches whose band rows fit ``config.DRIVER_MAX_ROWS`` pair and verify
on the driver. The driver path must emit exactly the Spark path's matches and
batch stats, run a pinned number of jobs, all under the caller's job group,
and hand every batch it cannot take to the unchanged Spark plans."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from cqaduplicatefind_spark import config
from cqaduplicatefind_spark.config import DedupConfig
from cqaduplicatefind_spark.operators.candidates import explode_bands
from cqaduplicatefind_spark.plans.delta import signature_frame
from cqaduplicatefind_spark.streaming import incremental, store
from cqaduplicatefind_spark.streaming.incremental import IncrementalDedup

CFG = DedupConfig(shingle_k=3, jaccard_threshold=0.7, shuffle_partitions=4)
BASE = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5


def _doc(words):
    return " ".join(words)


def _family(name, size, n_words=40):
    base = [f"{name}w{j}" for j in range(n_words)]
    return [(f"{name}m{m}", _doc(base + [f"tail{m}"])) for m in range(size)]


@st.composite
def _split_corpora(draw):
    """A seed and 2-4 batches (possibly empty), then a batch of one fresh
    doc (zero candidates). The seed holds the first member of each family and one
    noise doc. Family ``hot`` has ``max_band_group + 2`` members, so the
    batch that brings its last member touches a hot bucket."""
    sizes = draw(st.lists(st.integers(2, 4), min_size=2, max_size=3))
    fams = [_family(f"fam{f}", n) for f, n in enumerate(sizes)]
    fams.append(_family("hot", CFG.max_band_group + 2))
    n_noise = draw(st.integers(1, 3))
    noise = [
        (f"noise{i}", _doc(f"n{i}x{j}" for j in range(30))) for i in range(n_noise)
    ]
    seed = [f[0] for f in fams] + [noise[0]]
    rest = [d for f in fams for d in f[1:]] + noise[1:]
    n_batches = draw(st.integers(2, 4))
    split = draw(st.lists(st.integers(0, n_batches - 1),
                          min_size=len(rest), max_size=len(rest)))
    batches = [[d for d, b in zip(rest, split) if b == k] for k in range(n_batches)]
    batches.append([("quiet", _doc(f"q{j}" for j in range(30)))])
    return seed, batches, draw(st.sampled_from([2, 3]))


def _seed_store(spark, root, seed_sigs):
    """Seed by hand, with three store faults the matcher tolerates: fam0's
    payload says zero shingles (its SimHash must not link it), fam1's payload
    is missing (its pairs drop out), and both seed parts also sit in an
    ``.old`` remnant of an interrupted merge (every seed row twice)."""
    bands, sigs, _ = store.open_stores(spark, *store.store_roots(root))
    n = seed_sigs.count()
    bands.append(-1, explode_bands(seed_sigs, CFG), n * CFG.bands)
    payloads = seed_sigs.where(F.col("url") != "fam1m0").withColumn(
        "n_shingles",
        F.when(F.col("url") == "fam0m0", 0).otherwise(F.col("n_shingles")),
    )
    sigs.append(-1, payloads, n)
    for s in (bands, sigs):
        shutil.copytree(os.path.join(s.root, "batch=-1"),
                        os.path.join(s.root, "compacted=-1.old"))


def _stream(spark, work, name, sigs, seed, batches, compact_every):
    root = os.path.join(work, name)
    _seed_store(spark, root, sigs.where(F.col("url").isin([u for u, _ in seed])))
    dedup = IncrementalDedup(
        spark, CFG, *store.store_roots(root), compact_every=compact_every
    )
    for k, batch in enumerate(batches):
        dedup.process_batch(sigs.where(F.col("url").isin([u for u, _ in batch])), k)
    rows = sorted(tuple(r) for r in dedup.matches().collect())
    return rows, dedup.batch_stats, dedup.batch_paths, _store_contents(spark, dedup)


def _store_contents(spark, dedup):
    """Per store: its sorted raw rows (the band store's ``src_batch`` tag
    included) and its part-dir names, asserting each dir is committed."""
    out = {}
    for s in (dedup.band_store, dedup.sig_store, dedup.match_store):
        dirs = sorted(os.listdir(s.root))
        assert all(os.path.exists(os.path.join(s.root, d, "_SUCCESS"))
                   for d in dirs), dirs
        rows = spark.read.schema(s.schema).parquet(*s.parts()).collect()
        out[os.path.basename(s.root)] = (dirs, sorted(tuple(r) for r in rows))
    return out


@settings(max_examples=4, deadline=None, derandomize=True)
@given(corpus=_split_corpora())
def test_driver_path_equals_spark_path(spark, corpus):
    """Differential: the same seeded store and batches, once on the driver
    path and once with the Spark path forced (the bound below every batch),
    give identical match rows (all six columns, exact doubles, duplicates
    counted), identical batch stats, and identical store contents: the
    same committed part dirs and the same rows in each store, the band
    store's batch tags included. The driver side writes its parts and folds
    its tiers with pyarrow, the forced side with Spark."""
    seed, batches, compact_every = corpus
    pages = spark.createDataFrame(
        seed + [d for b in batches for d in b], "url string, text string"
    )
    sigs = signature_frame(pages, CFG).persist()
    work = tempfile.mkdtemp(prefix="driver_diff_")
    try:
        driver = _stream(spark, work, "driver", sigs, seed, batches, compact_every)
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(config, "DRIVER_MAX_ROWS", -1)
            forced = _stream(spark, work, "spark", sigs, seed, batches, compact_every)
    finally:
        sigs.unpersist()
        shutil.rmtree(work, ignore_errors=True)

    rows, stats, paths, contents = driver
    assert rows == forced[0]
    assert stats == forced[1]
    assert contents == forced[3]
    assert forced[2] == ["spark"] * len(batches)
    # the hot family's last batch falls back; the quiet batch stays
    assert "spark" in paths and paths[-1] == "driver"
    assert stats[-1]["n_candidates"] == 0
    # the faults were live: fam0's seed edges carry the zero-shingle
    # Hamming, fam1's seed member pairs with nothing
    ids = {u for r in rows for u in r[:2]}
    assert "fam1m0" not in ids
    assert all(r[4] == config.SIMHASH_BITS for r in rows if r[0] == "fam0m0")


def _sigs(spark, rows):
    return signature_frame(spark.createDataFrame(rows, "url string, text string"), CFG)


def _fam(i):
    return [(f"fam{i}", BASE + f"tail{i}"), (f"noise{i}", f"zz{i} qq " * 30)]


def _group_jobs(spark, group, fn):
    """Run ``fn`` under job group ``group``: (the group's job ids, the ids of
    jobs that ran meanwhile with no group)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return (
        set(tracker.getJobIdsForGroup(group)),
        set(tracker.getJobIdsForGroup(None)) - ungrouped,
    )


@pytest.fixture
def kernel_calls(monkeypatch):
    """Names of the Spark pairing and scoring kernels process_batch calls."""
    calls: list[str] = []
    for name in ("bucket_candidates", "score_pairs"):
        real = getattr(incremental, name)

        def spy(*a, _real=real, _name=name, **kw):
            calls.append(_name)
            return _real(*a, **kw)

        monkeypatch.setattr(incremental, name, spy)
    return calls


def test_driver_batch_job_count_is_pinned(spark, tmp_path, kernel_calls):
    """A below-bound, non-compacting micro-batch with index rows and
    candidates runs 6 jobs: the batch count, the batch collect (payload
    columns and band hashes), the touched-key broadcast and the bounded
    touched-row collect, the endpoint broadcast and the index-payload
    collect. The three store writes run on the driver. Every job carries the
    caller's job group, and no bucket_candidates/score_pairs plan is
    built."""
    dedup = IncrementalDedup(spark, CFG, *store.store_roots(str(tmp_path)))
    dedup.process_batch(_sigs(spark, _fam(0)), 0)
    batch = _sigs(spark, _fam(1))
    jobs, ungrouped = _group_jobs(
        spark, "driver-path-batch", lambda: dedup.process_batch(batch, 1)
    )
    assert dedup.batch_paths == ["driver", "driver"]
    assert dedup.batch_stats[-1]["n_candidates"] == 1
    assert kernel_calls == []
    assert not ungrouped
    assert len(jobs) == 6
    assert {(r.id_a, r.id_b) for r in dedup.matches().collect()} == {
        ("fam0", "fam1")
    }


def test_spark_path_jobs_carry_the_callers_group(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(config, "DRIVER_MAX_ROWS", 0)
    dedup = IncrementalDedup(spark, CFG, *store.store_roots(str(tmp_path)))
    dedup.process_batch(_sigs(spark, _fam(0)), 0)
    batch = _sigs(spark, _fam(1))
    jobs, ungrouped = _group_jobs(
        spark, "spark-path-batch", lambda: dedup.process_batch(batch, 1)
    )
    assert dedup.batch_paths == ["spark", "spark"]
    assert jobs and not ungrouped


def _run(spark, tmp_path, cfg, batches):
    dedup = IncrementalDedup(spark, cfg, *store.store_roots(str(tmp_path)))
    for k, rows in enumerate(batches):
        dedup.process_batch(_sigs(spark, rows), k)
    return dedup, {(r.id_a, r.id_b) for r in dedup.matches().collect()}


def test_above_bound_batches_run_the_spark_plans(
    spark, tmp_path, monkeypatch, kernel_calls
):
    # two docs x 16 bands = 32 band rows: over a bound of 31
    monkeypatch.setattr(config, "DRIVER_MAX_ROWS", 2 * CFG.bands - 1)
    dedup, got = _run(spark, tmp_path, CFG, [_fam(0), _fam(1)])
    assert dedup.batch_paths == ["spark", "spark"]
    assert kernel_calls.count("bucket_candidates") == 2
    assert "score_pairs" in kernel_calls
    assert got == {("fam0", "fam1")}


def test_hot_bucket_batch_falls_back(spark, tmp_path, kernel_calls):
    """A touched bucket above max_band_group: stars and salted sub-buckets
    are the Spark kernel's job."""
    hot = [(f"hot{i}", BASE + "same") for i in range(CFG.max_band_group + 1)]
    dedup, got = _run(spark, tmp_path, CFG, [_fam(0), hot])
    assert dedup.batch_paths == ["driver", "spark"]
    assert kernel_calls == ["bucket_candidates", "score_pairs"]
    assert {"hot0", "hot1"} <= {u for p in got for u in p}


@pytest.mark.parametrize("n_indexed, paths", [
    (3, ["spark", "spark"]),   # 48 touched index rows overflow the probe
    (1, ["driver", "spark"]),  # 2 candidate endpoints exceed 20 // 16 docs
])
def test_driver_overflow_falls_back(spark, tmp_path, monkeypatch, kernel_calls,
                                    n_indexed, paths):
    """With a bound of 20 rows a one-doc batch (16 band rows) enters the
    driver path, and leaves it for the Spark plans when its touched index
    rows or its candidate endpoints do not fit."""
    monkeypatch.setattr(config, "DRIVER_MAX_ROWS", 20)
    copies = [(f"x{i}", BASE + "same") for i in range(n_indexed + 1)]
    dedup, got = _run(spark, tmp_path, CFG, [copies[:-1], copies[-1:]])
    assert dedup.batch_paths == paths
    assert kernel_calls.count("bucket_candidates") == paths.count("spark")
    assert got == {
        (a, b) for a, _ in copies for b, _ in copies if a < b
    }
