"""The incremental matcher's part store: file-size rule, schema guard at
compaction, uncommitted parts, and streamed matches against a one-shot
increment."""

from __future__ import annotations

import os
import re
import shutil
import tempfile

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from cqaduplicatefind_spark import config
from cqaduplicatefind_spark.config import DedupConfig
from cqaduplicatefind_spark.plans.delta import seed_index, signature_frame
from cqaduplicatefind_spark.streaming import store
from cqaduplicatefind_spark.streaming.incremental import IncrementalDedup

CFG = DedupConfig(shingle_k=3, jaccard_threshold=0.7, shuffle_partitions=4)


def _parquet_files(path):
    return [f for f in os.listdir(path) if f.endswith(".parquet")]


def _band_rows(spark, n, start=0):
    return spark.range(start, start + n, numPartitions=16).select(
        F.col("id").cast("string").alias("id"),
        (F.col("id") % 4).cast("int").alias("band"),
        F.col("id").alias("bh"),
    )


def _written_by(path):
    """"driver" when pyarrow wrote every part file of ``path`` (its
    ``part-<n>.parquet`` names), else "spark"."""
    names = _parquet_files(path)
    driver = all(re.fullmatch(r"part-\d{5}\.parquet", f) for f in names)
    return "driver" if driver else "spark"


@pytest.mark.parametrize("writer", ["driver", "spark"])
def test_appends_and_merges_share_one_file_size_rule(
    spark, tmp_path, monkeypatch, writer
):
    """An append of N rows writes ceil(N / rows_per_file) files, and a merge
    sizes its tier the same way from the summed footer row counts, whoever
    writes: an Arrow-table append and a fold below the driver bound, or a
    Spark append and a Spark fold (the bound below every fold)."""
    monkeypatch.setattr(store, "BAND_ROWS_PER_FILE", 40)
    if writer == "spark":
        monkeypatch.setattr(config, "DRIVER_MAX_ROWS", -1)
    bands, _, _ = store.open_stores(
        spark, *store.store_roots(str(tmp_path)), compact_every=2
    )

    def rows(start):
        frame = _band_rows(spark, 50, start)
        return frame.toArrow() if writer == "driver" else frame

    bands.append(0, rows(0), 50)
    part = os.path.join(bands.root, "batch=0")
    assert len(_parquet_files(part)) == 2
    assert _written_by(part) == writer
    bands.append(1, rows(50), 50)
    bands.compact(1)
    (tier,) = bands.parts()
    assert os.path.basename(tier) == "compacted=1"
    assert len(_parquet_files(tier)) == 3  # ceil(100 / 40)
    assert _written_by(tier) == writer
    assert sorted(os.listdir(bands.root)) == ["compacted=1"]
    tagged = bands.spark.read.schema(bands.schema).parquet(tier)
    assert sorted(
        (int(r.id), r.src_batch) for r in tagged.collect()
    ) == [(i, i // 50) for i in range(100)]


def test_compaction_refuses_a_part_with_an_undeclared_column(spark, tmp_path):
    """A band part holding a column the store schema lacks makes the fold
    raise before anything is written: every part stays where it was, and the
    batch's matches, written before compaction, read back in full."""
    dedup = IncrementalDedup(
        spark, CFG, *store.store_roots(str(tmp_path)), compact_every=2
    )
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5

    def sigs_for(i):
        rows = [(f"fam{i}", base + f"tail{i}"), (f"noise{i}", f"zz{i} qq " * 30)]
        return signature_frame(
            spark.createDataFrame(rows, "url string, text string"), CFG
        )

    dedup.process_batch(sigs_for(0), 0)
    part = os.path.join(dedup.bands_dir, "batch=0")
    drifted = str(tmp_path / "drifted")
    spark.read.parquet(part).withColumn("weight", F.lit(1.0)).write.parquet(drifted)
    shutil.rmtree(part)
    shutil.move(drifted, part)

    with pytest.raises(ValueError, match="weight"):
        dedup.process_batch(sigs_for(1), 1)
    assert sorted(os.listdir(dedup.bands_dir)) == ["batch=0", "batch=1"]
    assert {(r.id_a, r.id_b) for r in dedup.matches().collect()} == {
        ("fam0", "fam1")
    }


@pytest.mark.parametrize("bound", [None, 0], ids=["driver", "spark"])
def test_index_read_refuses_a_band_row_without_its_tag(
    spark, tmp_path, monkeypatch, bound
):
    """A band part whose rows lack the ``src_batch`` tag makes the next
    batch's index read raise, on either matcher path: the replay filter
    cannot tell whose rows they are, and dropping them would leave every
    later batch unpaired against them."""
    if bound is not None:
        monkeypatch.setattr(config, "DRIVER_MAX_ROWS", bound)
    dedup = IncrementalDedup(spark, CFG, *store.store_roots(str(tmp_path)))
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5

    def sigs_for(i):
        rows = [(f"fam{i}", base + f"tail{i}"), (f"noise{i}", f"zz{i} qq " * 30)]
        return signature_frame(
            spark.createDataFrame(rows, "url string, text string"), CFG
        )

    dedup.process_batch(sigs_for(0), 0)
    part = os.path.join(dedup.bands_dir, "batch=0")
    stripped = str(tmp_path / "stripped")
    spark.read.parquet(part).drop("src_batch").write.parquet(stripped)
    shutil.rmtree(part)
    shutil.move(stripped, part)

    with pytest.raises(Exception, match="without its src_batch tag"):
        dedup.process_batch(sigs_for(1), 1)
    assert dedup.matches().count() == 0


def test_uncommitted_part_stays_hidden_until_replayed(spark, tmp_path):
    """Under the v2 committer a write killed mid-job leaves its ``batch=<id>``
    dir holding the part files its finished tasks moved there, and no
    ``_SUCCESS`` marker. A fresh reader's matches never include it, the next
    compaction neither folds nor deletes it, and a replay of the batch id
    overwrites it with a committed part."""
    dedup = IncrementalDedup(
        spark, CFG, *store.store_roots(str(tmp_path)), compact_every=3
    )
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5

    def sigs_for(i):
        rows = [(f"fam{i}", base + f"tail{i}"), (f"noise{i}", f"zz{i} qq " * 30)]
        return signature_frame(
            spark.createDataFrame(rows, "url string, text string"), CFG
        )

    def pairs(*fams):
        return {(f"fam{i}", f"fam{j}") for i in fams for j in fams if i < j}

    def matches(d):
        return {(r.id_a, r.id_b) for r in d.matches().collect()}

    for i in range(2):
        dedup.process_batch(sigs_for(i), i)
    # batch 1's job commit never ran: every store keeps its parts, unmarked
    roots = (dedup.bands_dir, dedup.sigs_dir, dedup.matches_dir)
    for root in roots:
        os.remove(os.path.join(root, "batch=1", "_SUCCESS"))
        assert _parquet_files(os.path.join(root, "batch=1"))

    fresh = IncrementalDedup(
        spark, CFG, *store.store_roots(str(tmp_path)), compact_every=3
    )
    assert matches(fresh) == set()
    # batches 2 and 3 make three committed band parts: the fold takes 0, 2
    # and 3, and fam1 is neither index for them nor in the tier
    for i in (2, 3):
        fresh.process_batch(sigs_for(i), i)
    assert matches(fresh) == pairs(0, 2, 3)
    assert sorted(os.listdir(fresh.bands_dir)) == ["batch=1", "compacted=3"]
    assert _parquet_files(os.path.join(fresh.bands_dir, "batch=1"))
    assert "fam1" not in {r.id for r in fresh.band_store.read().collect()}

    fresh.process_batch(sigs_for(1), 1)  # the replay
    for root in roots:
        assert os.path.exists(os.path.join(root, "batch=1", "_SUCCESS"))
    assert matches(fresh) == pairs(0, 1, 2, 3)


def test_failed_driver_append_stays_hidden_until_replayed(
    spark, tmp_path, monkeypatch
):
    """A driver append that dies after the first file of a multi-file part
    leaves the part without ``_SUCCESS``, and the batch's sig and match
    parts unwritten. A fresh matcher never reads it: its matches and band
    index leave the batch out. A replay of the batch id overwrites it with a
    committed part."""
    monkeypatch.setattr(store, "BAND_ROWS_PER_FILE", CFG.bands)  # a file a doc
    monkeypatch.setattr(store, "SIG_ROWS_PER_FILE", 1)
    roots = store.store_roots(str(tmp_path))
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5

    def sigs_for(i):
        rows = [(f"fam{i}", base + f"tail{i}"), (f"noise{i}", f"zz{i} qq " * 30)]
        return signature_frame(
            spark.createDataFrame(rows, "url string, text string"), CFG
        )

    def matches(d):
        return {(r.id_a, r.id_b) for r in d.matches().collect()}

    dedup = IncrementalDedup(spark, CFG, *roots)
    dedup.process_batch(sigs_for(0), 0)
    write_table = store.pq.write_table
    written = []

    def dies_after_one(table, where, **kw):
        if written:
            raise OSError("disk full")
        written.append(where)
        write_table(table, where, **kw)

    with monkeypatch.context() as mp:
        mp.setattr(store.pq, "write_table", dies_after_one)
        with pytest.raises(OSError, match="disk full"):
            dedup.process_batch(sigs_for(1), 1)
    part = os.path.join(dedup.bands_dir, "batch=1")
    assert sorted(os.listdir(part)) == ["part-00000.parquet"]
    for root in roots[1:]:
        assert not os.path.exists(os.path.join(root, "batch=1"))

    fresh = IncrementalDedup(spark, CFG, *roots)
    assert matches(fresh) == set()
    fresh.process_batch(sigs_for(2), 2)
    assert fresh.batch_paths == ["driver"]
    assert matches(fresh) == {("fam0", "fam2")}
    assert "fam1" not in {r.id for r in fresh.band_store.read().collect()}

    fresh.process_batch(sigs_for(1), 1)  # the replay
    assert len(_parquet_files(part)) == 2
    for root in roots:
        assert os.path.exists(os.path.join(root, "batch=1", "_SUCCESS"))
    assert matches(fresh) == {("fam0", "fam1"), ("fam0", "fam2"), ("fam1", "fam2")}


def _doc(words):
    return " ".join(words)


@st.composite
def _split_corpora(draw):
    """Planted families plus noise docs; the seed holds each family's first
    member and one noise doc, the rest is split into 2-4 batches."""
    fams = draw(st.lists(st.integers(2, 4), min_size=1, max_size=3))
    n_noise = draw(st.integers(1, 4))
    seed, rest = [], []
    for f, size in enumerate(fams):
        base = [f"f{f}w{j}" for j in range(40)]
        members = [(f"fam{f}m{m}", _doc(base + [f"tail{m}"])) for m in range(size)]
        seed.append(members[0])
        rest.extend(members[1:])
    noise = [
        (f"noise{i}", _doc(f"n{i}x{j}" for j in range(30))) for i in range(n_noise)
    ]
    seed.append(noise[0])
    rest.extend(noise[1:])
    n_batches = draw(st.integers(2, 4))
    split = draw(st.lists(st.integers(0, n_batches - 1),
                          min_size=len(rest), max_size=len(rest)))
    batches = [[d for d, b in zip(rest, split) if b == k] for k in range(n_batches)]
    return seed, batches, draw(st.sampled_from([2, 3]))


@settings(max_examples=5, deadline=None, derandomize=True)
@given(corpus=_split_corpora())
def test_streamed_matches_equal_one_increment(spark, corpus):
    """Differential: streaming the non-seed docs in random batches through
    the store (compacting as it goes) emits exactly the edges one
    process_batch of all of them emits over the same seed, and every batch's
    index size is (seed docs + earlier batch docs) x bands. Runs the Spark
    path (the bound below every batch); tests/test_driver_path.py shows the
    driver path emits the same rows."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(config, "DRIVER_MAX_ROWS", -1)
        _streamed_matches_equal_one_increment(spark, corpus)


def _streamed_matches_equal_one_increment(spark, corpus):
    seed, batches, compact_every = corpus
    pages = spark.createDataFrame(
        seed + [d for b in batches for d in b], "url string, text string"
    )
    sigs = signature_frame(pages, CFG).persist()
    seed_urls = [u for u, _ in seed]
    work = tempfile.mkdtemp(prefix="store_diff_")
    try:
        def seeded(name, every):
            root = os.path.join(work, name)
            seed_index(spark, pages.where(F.col("url").isin(seed_urls)), CFG, root)
            return IncrementalDedup(
                spark, CFG, *store.store_roots(root), compact_every=every
            )

        def edges(dedup):
            return {
                (r.id_a, r.id_b, r.jaccard) for r in dedup.matches().collect()
            }

        streamed = seeded("stream", compact_every)
        for k, batch in enumerate(batches):
            urls = [u for u, _ in batch]
            streamed.process_batch(sigs.where(F.col("url").isin(urls)), k)
        once = seeded("once", 16)
        once.process_batch(sigs.where(~F.col("url").isin(seed_urls)), 0)

        assert edges(streamed) == edges(once)
        assert set(streamed.batch_paths) == set(once.batch_paths) == {"spark"}
        assert {(a, b) for a, b, _ in edges(once)} == _family_pairs(
            seed + [d for b in batches for d in b]
        )
        before = len(seed)
        for stats, batch in zip(streamed.batch_stats, batches):
            assert stats["n_index_band_rows"] == before * CFG.bands
            before += len(batch)
    finally:
        sigs.unpersist()
        shutil.rmtree(work, ignore_errors=True)


def _family_pairs(docs):
    """Every pair inside a planted family (seed members are one per family,
    so no pair is seed-seed)."""
    urls = sorted(u for u, _ in docs if u.startswith("fam"))
    return {
        (a, b) for a in urls for b in urls
        if a < b and a.rsplit("m", 1)[0] == b.rsplit("m", 1)[0]
    }
