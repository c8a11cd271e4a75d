"""Batch delta-dedup: increment-vs-corpus matching without re-pairing the
corpus, cluster-consistent survivor selection, and store interop across
successive increments."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from cqaduplicatefind_spark.config import DedupConfig
from cqaduplicatefind_spark.plans.delta import (
    delta_dedup,
    seed_index,
    signature_frame,
    surviving_new,
)

CFG = DedupConfig(
    shingle_k=3,
    jaccard_threshold=0.7,
    bands=32,
    rows_per_band=4,
    normalize_input=False,
    accept_hamming=False,
    containment_accept=None,
    span_pass=False,
)

BASE = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
OTHER = "one two three four five six seven eight nine ten"
CHAIN = "red orange yellow green blue indigo violet ultra infra deep"


def _pages(spark, rows):
    return spark.createDataFrame(rows, "url string, text string")


def test_delta_edges_and_survivors(spark, tmp_path):
    """The canonical increment: a corpus dup drops, a new-new pair keeps its
    min id, a chain crossing the corpus drops entirely, a unique doc and a
    zero-shingle doc survive."""
    corpus = _pages(
        spark,
        [("c1", BASE), ("c2", CHAIN), ("c3", "moss fern lichen bark root stem")],
    )
    # n1 dups c1; n2/n3 dup each other only; n4 unique; n5 dups n6 which dups
    # c2 (transitive corpus hit drops both); n7 too short to shingle
    delta = _pages(
        spark,
        [
            ("n1", BASE),
            ("n2", OTHER),
            ("n3", OTHER),
            ("n4", "lone words that match nothing else in any table here"),
            ("n5", CHAIN + " extra"),
            ("n6", CHAIN),
            ("n7", "hi"),
        ],
    )
    work = str(tmp_path / "store")
    n = seed_index(spark, corpus, CFG, work)
    assert n == 3

    res = delta_dedup(spark, delta, CFG, work, batch_id=1)
    pairs = {
        tuple(sorted((r.id_a, r.id_b))) for r in res.edges.collect()
    }
    assert ("c1", "n1") in pairs
    assert ("n2", "n3") in pairs
    assert ("n5", "n6") in pairs and ("c2", "n6") in pairs
    # no corpus-corpus pair can ever appear
    assert all(a.startswith("n") or b.startswith("n") for a, b in pairs)

    survivors = {r.url for r in res.surviving_new.collect()}
    assert survivors == {"n2", "n4", "n7"}

    # per-increment work bound evidence rides along
    assert res.stats["n_new_docs"] == 6  # n7 has no shingles


def test_batch_id_convention_enforced(spark, tmp_path):
    """Seeds must be negative (streaming numbers micro-batches from 0 — a
    colliding seed id would be excluded then overwritten); increments must be
    non-negative; the work-bound stats skip the O(index) count."""
    work = str(tmp_path / "store")
    pages = _pages(spark, [("c1", BASE)])
    with pytest.raises(ValueError, match="negative"):
        seed_index(spark, pages, CFG, work, batch_id=0)
    seed_index(spark, pages, CFG, work)  # default -1
    with pytest.raises(ValueError, match="non-negative"):
        delta_dedup(spark, pages, CFG, work, batch_id=-2)
    res = delta_dedup(
        spark, _pages(spark, [("n1", OTHER)]), CFG, work, batch_id=0
    )
    assert res.stats["n_index_band_rows"] is None  # no O(index) count paid
    assert {r.url for r in res.surviving_new.collect()} == {"n1"}


def test_seed_never_pairs_corpus(spark, tmp_path):
    """Seeding a corpus that CONTAINS duplicates must do no pairing work: no
    matches are written and a subsequent quiet increment emits nothing."""
    corpus = _pages(spark, [("c1", BASE), ("c2", BASE), ("c3", OTHER)])
    work = str(tmp_path / "store")
    seed_index(spark, corpus, CFG, work)
    assert os.listdir(os.path.join(work, "matches")) == []

    res = delta_dedup(
        spark, _pages(spark, [("n1", "totally unrelated words here ok")]),
        CFG, work, batch_id=1,
    )
    assert res.edges.count() == 0
    assert {r.url for r in res.surviving_new.collect()} == {"n1"}


def test_successive_increments_share_the_store(spark, tmp_path):
    """Every doc an increment SEES becomes index for the NEXT increment —
    survivors and dropped duplicates alike (recall-preserving: Jaccard is not
    transitive, so a later doc may clear threshold only against the dropped
    copy): a batch-2 doc duplicating a batch-1 doc is caught and dropped, and
    a batch-2 doc matching only a DROPPED batch-1 doc still drops."""
    work = str(tmp_path / "store")
    seed_index(spark, _pages(spark, [("c1", BASE)]), CFG, work)

    r1 = delta_dedup(
        spark, _pages(spark, [("m1", OTHER), ("m2", OTHER)]), CFG, work,
        batch_id=1,
    )
    assert {r.url for r in r1.surviving_new.collect()} == {"m1"}  # m2 dropped

    r2 = delta_dedup(spark, _pages(spark, [("p1", OTHER)]), CFG, work, batch_id=2)
    pairs = {tuple(sorted((r.id_a, r.id_b))) for r in r2.edges.collect()}
    # p1 pairs against BOTH stored copies, the dropped m2 included
    assert pairs == {("m1", "p1"), ("m2", "p1")}
    assert r2.surviving_new.count() == 0


def test_survivor_rule_directly(spark):
    """surviving_new over a hand-built edge frame: old-touching components
    drop all new members; new-only components keep the min id."""
    edges = spark.createDataFrame(
        [("n1", "c1"), ("n2", "n3"), ("n5", "n6"), ("n6", "c2")],
        "id_a string, id_b string",
    )
    new_ids = spark.createDataFrame(
        [("n1",), ("n2",), ("n3",), ("n4",), ("n5",), ("n6",)], "url string"
    )
    out = {r.url for r in surviving_new(edges, new_ids).collect()}
    assert out == {"n2", "n4"}


def test_signature_frame_matches_pipeline_semantics(spark):
    """Signatures seeded into the index are the SAME the flagship would
    compute for identical text (normalize honored, zero-shingle rows gone)."""
    pages = _pages(spark, [("a", BASE), ("b", "x")])
    sig = signature_frame(pages, CFG)
    rows = {r.url: r for r in sig.collect()}
    assert set(rows) == {"a"}
    assert rows["a"].n_shingles > 0 and len(rows["a"].minhash) == CFG.num_perms
