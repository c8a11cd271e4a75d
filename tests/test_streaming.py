"""Structured Streaming: incremental dedup over a file source."""

import os
from dataclasses import replace

import pytest
from pyspark.sql import functions as F

from cqaduplicatefind_spark import config
from cqaduplicatefind_spark.config import DedupConfig
from cqaduplicatefind_spark.functions.signatures import sign_pages
from cqaduplicatefind_spark.streaming.incremental import (
    IncrementalDedup,
    run_incremental_dedup,
)
from cqaduplicatefind_spark.streaming.store import store_roots


def test_incremental_dedup_file_source(spark, tmp_path):
    """Three micro-batches: (1) intra-batch duplicates are detected within their
    own batch (match results independent of batch boundaries), (2) a later dup
    matches the accumulated index, (3) per-batch work reads the slim band index
    but fetches signature payloads ONLY for candidate ids — an unrelated batch
    touches zero payload rows no matter how big the index is."""
    cfg = DedupConfig(shingle_k=3, jaccard_threshold=0.7, shuffle_partitions=4)
    src = str(tmp_path / "incoming")
    os.makedirs(src)

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    batch1 = [(f"u{i}", base + f"tail{i}") for i in range(4)]          # near-dups
    batch2 = [("u9", base + "tail0"), ("v0", "totally different words here " * 8)]
    batch3 = [(f"w{i}", f"unrelated corpus w{i} " + "qq ww ee rr tt yy " * 10)
              for i in range(3)]

    def run_batch(rows):
        spark.createDataFrame(rows, "url string, text string").write.mode(
            "append"
        ).parquet(src)
        stream = spark.readStream.schema("url string, text string").parquet(src)
        q, dedup = run_incremental_dedup(spark, stream, cfg, str(tmp_path / "work"))
        q.awaitTermination(120)
        return dedup

    # batch 1: intra-batch duplicate pairs are found immediately — results do
    # not depend on arbitrary micro-batch boundaries
    d1 = run_batch(batch1)
    got1 = {(r.id_a, r.id_b) for r in d1.matches().collect()}
    assert got1 == {
        (f"u{i}", f"u{j}") for i in range(4) for j in range(4) if i < j
    }

    # batch 2: u9 duplicates every u0..u3 via the accumulated index; v0 nothing
    d2 = run_batch(batch2)
    got2 = {(r.id_a, r.id_b) for r in d2.matches().collect()}
    assert got2 - got1 == {(f"u{i}", "u9") for i in range(4)}
    (s2,) = d2.batch_stats
    assert s2["n_index_band_rows"] == 4 * cfg.bands  # slim band index joined
    # payload rows fetched = only candidate ids (u0..u3, u9), NOT the whole index
    assert s2["n_sig_payload_rows"] == 5

    # batch 3: unrelated docs -> zero candidates, ZERO payload rows fetched even
    # though the index now holds 6 docs — and zero index band rows even ENTER
    # the pairing kernel (touched-bucket semi-join)
    d3 = run_batch(batch3)
    (s3,) = d3.batch_stats
    assert s3["n_candidates"] == 0
    assert s3["n_sig_payload_rows"] == 0
    assert s3["n_index_band_rows_joined"] == 0
    assert {(r.id_a, r.id_b) for r in d3.matches().collect()} == got2


def test_touched_bucket_gate_shuffle_fallback(spark, tmp_path, monkeypatch):
    """With BROADCAST_TOUCHED_MAX=0 the touched-key probe falls back to a plain
    shuffle semi-join (the huge-increment path that must not OOM the driver by
    broadcasting O(batch x bands) keys) and produces IDENTICAL matches, on
    the Spark path (the bucket_candidates kernel) and on the driver path."""
    from cqaduplicatefind_spark.streaming import incremental
    from cqaduplicatefind_spark.plans.delta import signature_frame

    cfg = DedupConfig(shingle_k=3, jaccard_threshold=0.7, shuffle_partitions=4)
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    b1 = spark.createDataFrame(
        [("u0", base + "t0"), ("v0", "other words entirely " * 8)],
        "url string, text string",
    )
    b2 = spark.createDataFrame(
        [("u9", base + "t0")], "url string, text string"
    )

    def run(max_bc):
        work = str(tmp_path / f"w{max_bc}-{config.DRIVER_MAX_ROWS}")
        d = incremental.IncrementalDedup(
            spark, cfg,
            os.path.join(work, "bands"), os.path.join(work, "sigs"),
            os.path.join(work, "matches"),
        )
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(incremental, "BROADCAST_TOUCHED_MAX", max_bc)
            d.process_batch(signature_frame(b1, cfg), 0)
            d.process_batch(signature_frame(b2, cfg), 1)
        paths.update(d.batch_paths)
        return {(r.id_a, r.id_b) for r in d.matches().collect()}

    paths: set[str] = set()
    assert run(0) == run(4_000_000) == {("u0", "u9")}
    assert paths == {"driver"}
    # the Spark path: every batch above the driver bound
    paths.clear()
    monkeypatch.setattr(config, "DRIVER_MAX_ROWS", 0)
    assert run(0) == run(4_000_000) == {("u0", "u9")}
    assert paths == {"spark"}


def test_per_batch_work_bounded_by_touched_buckets(spark, tmp_path, monkeypatch):
    """K batches, each adding ONE member of a duplicate family plus several
    unrelated docs. The accumulated index grows linearly, but the band rows that
    enter the pairing kernel each batch stay bounded by the buckets the batch
    touches (the family's bands) — O(touched), never O(index). Also exercises
    store compaction: part-dir counts stay < compact_every while matches are
    exactly the family's full pair set. Runs the Spark path (every batch
    above the driver bound); tests/test_driver_path.py shows the driver
    path's stats equal it."""
    monkeypatch.setattr(config, "DRIVER_MAX_ROWS", 0)
    cfg = DedupConfig(shingle_k=3, jaccard_threshold=0.7, shuffle_partitions=4)
    src = str(tmp_path / "incoming")
    os.makedirs(src)
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    K, noise_per_batch = 6, 3

    dedup = None
    stats = []
    for i in range(K):
        rows = [(f"fam{i}", base + f"tail{i}")] + [
            (f"noise-{i}-{j}", f"unrelated {i} {j} " + f"xx{i}y{j} zz{j} qq{i} " * 12)
            for j in range(noise_per_batch)
        ]
        spark.createDataFrame(rows, "url string, text string").write.mode(
            "append"
        ).parquet(src)
        stream = spark.readStream.schema("url string, text string").parquet(src)
        # run_incremental_dedup's wiring, with a processor that compacts
        # every 4 parts
        work = str(tmp_path / "work")
        dedup = IncrementalDedup(spark, cfg, *store_roots(work), compact_every=4)
        q = (
            sign_pages(stream, replace(cfg, span_pass=False))
            .writeStream.foreachBatch(dedup.process_batch)
            .option("checkpointLocation", os.path.join(work, "checkpoint"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        stats.extend(dedup.batch_stats)
        assert dedup.batch_paths == ["spark"]

    docs_per_batch = 1 + noise_per_batch
    for i, s in enumerate(stats):
        # total index = everything that arrived before this batch...
        assert s["n_index_band_rows"] == i * docs_per_batch * cfg.bands
        # ...but the pairing kernel only ever saw the family's buckets
        assert s["n_index_band_rows_joined"] <= i * cfg.bands
    # the bound is doing real work by the last batch: joined << index
    last = stats[-1]
    assert last["n_index_band_rows"] == (K - 1) * docs_per_batch * cfg.bands
    assert last["n_index_band_rows_joined"] <= (K - 1) * cfg.bands

    # compaction kept the store at O(compact_every) part dirs...
    assert len(dedup.band_store.parts()) < 4 + 1
    assert len(dedup.sig_store.parts()) < 4 + 1
    # ...and results are the family's complete pair set, unchanged by compaction
    got = {(r.id_a, r.id_b) for r in dedup.matches().collect()}
    want = {
        (f"fam{i}", f"fam{j}") for i in range(K) for j in range(K) if i < j
    }
    assert got == want


def test_streaming_edges_equal_batch_edges(spark):
    """The driver's streaming query (documents fed through IncrementalDedup as
    four hash-split micro-batches, store compaction mid-run) emits EXACTLY the
    batch flagship's accepted edge set, jaccard values included — match results
    are independent of micro-batch boundaries and each pair is reported
    once."""
    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    qs = entry.queries()
    batch = {
        (r.id_a, r.id_b, r.jaccard)
        for r in qs["dedup_pipeline_accepted_edges"](spark, sf).collect()
    }
    stream = {
        (r.id_a, r.id_b, r.jaccard)
        for r in qs["streaming_incremental_edges"](spark, sf).collect()
    }
    assert stream == batch
    assert len(batch) > 0


def test_tiered_compaction_bounds_parts_and_survives_replay(spark, tmp_path):
    """With compact_every=2 over six batches, batch parts fold into tiers and
    tiers merge — the store stays at O(compact_every) dirs without ever
    rewriting the whole index per compaction (write work of the common fold is
    bounded by the batch parts). A replayed batch id (exactly-once overwrite
    after its parts were already compacted away) leaves results unchanged:
    readers tolerate the duplicate rows by construction."""
    from cqaduplicatefind_spark.functions.signatures import with_signatures
    from cqaduplicatefind_spark.streaming.incremental import (
        SIG_COLS,
        IncrementalDedup,
    )

    cfg = DedupConfig(shingle_k=3, jaccard_threshold=0.7, shuffle_partitions=4)
    dedup = IncrementalDedup(
        spark, cfg,
        str(tmp_path / "bands"), str(tmp_path / "sigs"),
        str(tmp_path / "matches"), compact_every=2,
    )
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5

    def sigs_for(i):
        rows = [
            (f"fam{i}", base + f"tail{i}"),
            (f"noise{i}", f"unrelated {i} " + f"x{i} y{i} z{i} qq{i} " * 10),
        ]
        df = spark.createDataFrame(rows, "url string, text string")
        return with_signatures(
            df.withColumn("norm_text", F.col("text")), cfg, "norm_text"
        ).select(*SIG_COLS)

    K = 6
    for i in range(K):
        dedup.process_batch(sigs_for(i), i)

    # tiering bound: far fewer dirs than batches, despite compact_every=2
    assert len(dedup.band_store.parts()) <= 2 * 2
    assert len(dedup.sig_store.parts()) <= 2 * 2
    want = {(f"fam{i}", f"fam{j}") for i in range(K) for j in range(K) if i < j}
    got = {(r.id_a, r.id_b) for r in dedup.matches().collect()}
    assert got == want

    # replay the last batch: its band/sig parts were compacted into a tier, so
    # the rewritten batch=5 dirs duplicate those rows — matches unchanged
    dedup.process_batch(sigs_for(K - 1), K - 1)
    got2 = {(r.id_a, r.id_b) for r in dedup.matches().collect()}
    assert got2 == want
    # the running index-size stat is LOGICAL: the replayed batch's own earlier
    # append is excluded (its overwrite replaces those rows), and the
    # crash-window physical duplicates left by compaction never inflate it —
    # and it is maintained arithmetically, never by an O(index) count scan
    assert dedup.batch_stats[-1]["n_index_band_rows"] == (K - 1) * 2 * cfg.bands


def test_restart_replay_excludes_own_prior_append(spark, tmp_path):
    """Crash window: batch N's index append happened but the streaming
    checkpoint never committed, so a RESTARTED processor (fresh in-memory
    state) replays batch N over a store already holding its rows. The one-time
    recovery count must report the index as it stood BEFORE batch N — the
    replayed batch's own pre-crash append is not "index", its overwrite
    replaces it — and the replay must not pair the batch against its own stale
    copy; match results are unchanged."""
    from cqaduplicatefind_spark.functions.signatures import with_signatures
    from cqaduplicatefind_spark.streaming.incremental import (
        SIG_COLS,
        IncrementalDedup,
    )

    cfg = DedupConfig(shingle_k=3, jaccard_threshold=0.7, shuffle_partitions=4)
    dirs = (
        str(tmp_path / "bands"), str(tmp_path / "sigs"),
        str(tmp_path / "matches"),
    )
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5

    def sigs_for(i):
        df = spark.createDataFrame(
            [(f"fam{i}", base + f"tail{i}")], "url string, text string"
        )
        return with_signatures(
            df.withColumn("norm_text", F.col("text")), cfg, "norm_text"
        ).select(*SIG_COLS)

    d1 = IncrementalDedup(spark, cfg, *dirs)
    d1.process_batch(sigs_for(0), 0)
    d1.process_batch(sigs_for(1), 1)      # the "crashed" batch: append landed
    want = {(r.id_a, r.id_b) for r in d1.matches().collect()}
    assert want == {("fam0", "fam1")}

    d2 = IncrementalDedup(spark, cfg, *dirs)   # restart: fresh state
    d2.process_batch(sigs_for(1), 1)           # checkpoint replays batch 1
    (s,) = d2.batch_stats
    assert s["n_index_band_rows"] == 1 * cfg.bands   # fam0 only, not fam1's own
    assert {(r.id_a, r.id_b) for r in d2.matches().collect()} == want


def test_compaction_refuses_a_band_part_without_src_batch_tag(spark, tmp_path):
    """Every writer tags band rows with ``src_batch``, and the replay read
    filters on it, so a band part stripped of the tag is schema drift: the
    next fold must raise before it writes anything, instead of folding the
    rows in with a null tag. Every part stays byte for byte where it was."""
    import shutil

    from cqaduplicatefind_spark.functions.signatures import with_signatures
    from cqaduplicatefind_spark.streaming import store
    from cqaduplicatefind_spark.streaming.incremental import (
        SIG_COLS,
        IncrementalDedup,
    )

    cfg = DedupConfig(shingle_k=3, jaccard_threshold=0.7, shuffle_partitions=4)
    dirs = store.store_roots(str(tmp_path))
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5

    def sigs_for(i):
        df = spark.createDataFrame(
            [(f"fam{i}", base + f"tail{i}")], "url string, text string"
        )
        return with_signatures(
            df.withColumn("norm_text", F.col("text")), cfg, "norm_text"
        ).select(*SIG_COLS)

    dedup = IncrementalDedup(spark, cfg, *dirs, compact_every=3)
    dedup.process_batch(sigs_for(0), 0)
    dedup.process_batch(sigs_for(1), 1)
    part = os.path.join(dirs[0], "batch=0")
    stripped = str(tmp_path / "stripped")
    spark.read.parquet(part).drop("src_batch").write.parquet(stripped)
    shutil.rmtree(part)
    shutil.move(stripped, part)

    def snapshot():
        root = tmp_path / "bands"
        return {str(f.relative_to(root)): f.read_bytes()
                for f in root.rglob("*") if f.is_file()}

    before = snapshot()
    bands, _, _ = store.open_stores(spark, *dirs, compact_every=2)
    with pytest.raises(ValueError, match="src_batch"):
        bands.compact(2)
    assert snapshot() == before
    assert sorted(os.listdir(dirs[0])) == ["batch=0", "batch=1"]


def test_restart_replay_after_compaction_keeps_stat_exact(spark, tmp_path):
    """The nastier crash window: batch N's append was already COMPACTED into a
    tier (its ``batch=N`` dir no longer exists) before the checkpoint failed
    to commit. Replay exclusion must still find the batch's own rows — they
    carry a src_batch row tag precisely because the dir-name skip cannot see
    them inside a tier — so the recovery base, and every stat after it, counts
    each batch's rows exactly once (no permanent double-count)."""
    from cqaduplicatefind_spark.functions.signatures import with_signatures
    from cqaduplicatefind_spark.streaming.incremental import (
        SIG_COLS,
        IncrementalDedup,
    )

    cfg = DedupConfig(shingle_k=3, jaccard_threshold=0.7, shuffle_partitions=4)
    dirs = (
        str(tmp_path / "bands"), str(tmp_path / "sigs"),
        str(tmp_path / "matches"),
    )
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5

    def sigs_for(i):
        df = spark.createDataFrame(
            [(f"fam{i}", base + f"tail{i}"), (f"noise{i}", f"zz {i} " * 30)],
            "url string, text string",
        )
        return with_signatures(
            df.withColumn("norm_text", F.col("text")), cfg, "norm_text"
        ).select(*SIG_COLS)

    d1 = IncrementalDedup(spark, cfg, *dirs, compact_every=2)
    for i in range(4):
        d1.process_batch(sigs_for(i), i)
    # compact_every=2 folded batch 3's parts into a tier: no batch=3 dir left
    import os as _os
    assert not _os.path.exists(_os.path.join(dirs[0], "batch=3"))

    d2 = IncrementalDedup(spark, cfg, *dirs, compact_every=99)  # restart
    d2.process_batch(sigs_for(3), 3)          # replay the compacted batch
    assert d2.batch_stats[0]["n_index_band_rows"] == 3 * 2 * cfg.bands
    d2.process_batch(sigs_for(4), 4)          # and keep going
    assert d2.batch_stats[1]["n_index_band_rows"] == 4 * 2 * cfg.bands


def test_merge_crash_windows_leave_readable_store(spark, tmp_path, monkeypatch):
    """White-box crash injection into ``_merge``'s rename-rename protocol —
    the two windows its docstring claims are safe but no black-box replay can
    reach deterministically: (c) after ``tmp -> final`` lands but BEFORE the
    sources/.old cleanup (store holds final + sources, physically duplicated),
    then on the recovery replay (b) after ``final -> .old`` but BEFORE
    ``tmp -> final`` (store holds sources + .old, no final). After each crash
    the match set must read back exactly right, and a clean replay must
    self-heal: the stale ``.old`` is swept, tiers re-merge, and a further
    batch sees a consistent index."""
    import shutil

    import pytest

    from cqaduplicatefind_spark.functions.signatures import with_signatures
    from cqaduplicatefind_spark.streaming.incremental import (
        SIG_COLS,
        IncrementalDedup,
    )

    cfg = DedupConfig(shingle_k=3, jaccard_threshold=0.7, shuffle_partitions=4)
    dedup = IncrementalDedup(
        spark, cfg,
        str(tmp_path / "bands"), str(tmp_path / "sigs"),
        str(tmp_path / "matches"), compact_every=2,
    )
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5

    def sigs_for(i):
        rows = [
            (f"fam{i}", base + f"tail{i}"),
            (f"noise{i}", f"unrelated {i} x{i} y{i} z{i} qq{i} " * 10),
        ]
        df = spark.createDataFrame(rows, "url string, text string")
        return with_signatures(
            df.withColumn("norm_text", F.col("text")), cfg, "norm_text"
        ).select(*SIG_COLS)

    def pairs_upto(k):
        return {
            (f"fam{i}", f"fam{j}")
            for i in range(k + 1) for j in range(k + 1) if i < j
        }

    for i in range(5):
        dedup.process_batch(sigs_for(i), i)

    # ---- window (c): crash after tmp->final, before cleanup --------------
    # batch 5 folds batch=4,5 into compacted=5; the armed rmtree kills the
    # merge at its FIRST cleanup deletion under this store
    real_rmtree, armed = shutil.rmtree, {"on": True}

    def exploding_rmtree(path, *a, **kw):
        if armed["on"] and str(path).startswith(str(tmp_path)):
            armed["on"] = False
            raise OSError("injected crash: cleanup")
        return real_rmtree(path, *a, **kw)

    monkeypatch.setattr(shutil, "rmtree", exploding_rmtree)
    with pytest.raises(OSError, match="injected crash"):
        dedup.process_batch(sigs_for(5), 5)
    # final landed AND sources remain: rows duplicated, none lost
    bands_root = tmp_path / "bands"
    assert (bands_root / "compacted=5").exists()
    assert (bands_root / "batch=5").exists()
    assert {(r.id_a, r.id_b) for r in dedup.matches().collect()} == pairs_upto(5)

    # ---- window (b): replay; crash between final->old and tmp->final -----
    real_rename, armed_rn = os.rename, {"on": True}

    def exploding_rename(src, dst):
        if armed_rn["on"] and str(src).endswith("_compact_tmp"):
            armed_rn["on"] = False
            raise OSError("injected crash: swap")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", exploding_rename)
    with pytest.raises(OSError, match="injected crash"):
        dedup.process_batch(sigs_for(5), 5)
    # the pre-existing final is parked at .old, nothing landed in its place:
    # every row still reachable under a scanned name
    assert (bands_root / "compacted=5.old").exists()
    assert not (bands_root / "compacted=5").exists()
    assert {(r.id_a, r.id_b) for r in dedup.matches().collect()} == pairs_upto(5)

    # ---- self-heal: clean replay sweeps .old, re-merges, stream continues -
    dedup.process_batch(sigs_for(5), 5)
    assert not (bands_root / "compacted=5.old").exists()
    dedup.process_batch(sigs_for(6), 6)
    assert {(r.id_a, r.id_b) for r in dedup.matches().collect()} == pairs_upto(6)
    # store stays tier-bounded after the turbulence
    assert len(dedup.band_store.parts()) <= 2 * 2 + 1
