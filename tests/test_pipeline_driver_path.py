"""A pipeline pass whose band rows fit ``config.DRIVER_MAX_ROWS`` pairs and
verifies on the driver (``plans.pipeline.driver_pair_stage``). The driver
path must give exactly the Spark path's candidates, scores, edges, span edges
and clusters, run a pinned number of jobs, build no candidate or score plan,
and hand every pass it cannot take to the unchanged Spark plans."""

from __future__ import annotations

import itertools
import struct

import pandas as pd
import pyarrow as pa
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from cqaduplicatefind_spark import config
from cqaduplicatefind_spark.config import DedupConfig
from cqaduplicatefind_spark.functions.hashing import TokenHasher
from cqaduplicatefind_spark.functions.normalize import review_to_wordlist
from cqaduplicatefind_spark.functions.signatures import compute_signatures_pdf
from cqaduplicatefind_spark.operators.connected_components import CheckpointHandle
from cqaduplicatefind_spark.operators.verify import driver_score_pairs, score_pairs
from cqaduplicatefind_spark.plans import pipeline

CFG = DedupConfig(shingle_k=3, jaccard_threshold=0.7, min_overlap_span=40,
                  shuffle_partitions=4, signature_partitions=4)


def _words(tag, n):
    return " ".join(f"{tag}w{j}" for j in range(n))


def _signed(x):
    return x - (1 << 64) if x >= 1 << 63 else x


@st.composite
def _corpora(draw, variant):
    """Pages (url, text, grp) plus SimHash overrides (url -> value).

    - planted families of 2-4 near-duplicates;
    - a containment shell around a family's content, so the span pass
      yields an edge;
    - ``sa``/``sb``: unrelated texts whose SimHashes differ in 1-3 bits (a
      SimHash-only pair); ``sc``: shares ``sa``'s lowest piece but differs in
      five other bits (a piece collision the Hamming gate drops);
    - 2-3 zero-shingle docs;
    - ``grouped``: docs spread over groups g0, g1 and NULL, one family split
      across g0 and NULL, one inside NULL;
    - ``hot``: a family of ``max_band_group + 2`` copies;
    - ``dup_url``: a second row for one url."""
    grouped = variant == "grouped"
    groups = ["g0", "g1", None] if grouped else [None]
    rows = []

    def add(url, text, *group):
        rows.append((url, text, *(group or [draw(st.sampled_from(groups))])))

    for f, size in enumerate(draw(st.lists(st.integers(2, 4), min_size=1,
                                           max_size=3))):
        base = _words(f"fam{f}", 40)
        for m in range(size):
            add(f"fam{f}m{m}", f"{base} tail{m}")
    content = _words("story", 50)
    shell = _words("boiler", 60)
    # each trio shares one group: the span edge and the SimHash-only edge
    # must form on both paths
    g = draw(st.sampled_from(groups))
    add("page", content, g)
    add("page-copy", content + " tail", g)
    add("shellpage", f"{shell} {content} {shell}", g)
    g = draw(st.sampled_from(groups))
    for u in ("sa", "sb", "sc"):
        add(u, _words(u, 30), g)
    for i in range(draw(st.integers(2, 3))):
        add(f"short{i}", f"zq{i}")
    for i in range(draw(st.integers(0, 2))):
        add(f"noise{i}", _words(f"noise{i}", 30))
    if grouped:
        base = _words("cross", 40)
        rows += [("cross0", base, "g0"), ("cross1", base + " tail", None),
                 ("null0", _words("nul", 40), None),
                 ("null1", _words("nul", 40) + " tail", None)]
    if variant == "hot":
        rows += [(f"hot{i}", _words("hot", 40), None)
                 for i in range(CFG.max_band_group + 2)]
    if variant == "dup_url":
        rows.append(("fam0m0", _words("other", 40), None))

    x = draw(st.integers(0, (1 << 64) - 1))
    flips = draw(st.sets(st.integers(0, 63), min_size=1, max_size=3))
    decoy = draw(st.sets(st.integers(16, 63), min_size=5, max_size=5))
    sims = {
        "sa": x,
        "sb": x ^ sum(1 << b for b in flips),
        "sc": x ^ sum(1 << b for b in decoy),
    }
    return rows, {u: _signed(v) for u, v in sims.items()}


def _with_simhashes(monkeypatch, sims):
    real = pipeline.signature_stage

    def stage(*a, **kw):
        sigs = real(*a, **kw)
        sim = F.col("simhash")
        for u, v in sims.items():
            sim = F.when(F.col("url") == u, F.lit(v)).otherwise(sim)
        return sigs.withColumn("simhash", sim)

    monkeypatch.setattr(pipeline, "signature_stage", stage)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _run(spark, pages, group_col):
    """The pass's path, its frames' rows, and how many checkpoint handles it
    left (one per star-loop components run and per non-empty span pass)."""
    result = pipeline.run_pipeline(spark, pages, CFG, group_col=group_col)
    try:
        handles = sum(isinstance(p, CheckpointHandle) for p in result.persisted)
        return result.path, handles, {
            name: _rows(getattr(result, name))
            for name in ("candidates", "scored", "edges", "overlap_edges",
                         "clusters")
        }
    finally:
        result.release()


@pytest.mark.parametrize("variant, path", [
    ("plain", "driver"),
    ("grouped", "driver"),
    ("hot", "spark"),
    ("dup_url", "spark"),
])
@settings(max_examples=2, deadline=None, derandomize=True)
@given(data=st.data())
def test_driver_path_equals_spark_path(spark, variant, path, data):
    """Differential: the same pages, once on the default path and once with
    the Spark path forced (the bound below every pass), give identical
    candidates, scored pairs and edges (all columns, exact doubles), span
    edges and clusters. A hot bucket or a repeated url falls back. The
    forced side's components run the star loop too: both of its components
    runs hand out a checkpoint handle on top of the span pass's."""
    rows, sims = data.draw(_corpora(variant))
    pages = spark.createDataFrame(rows, "url string, text string, grp string")
    group_col = "grp" if variant == "grouped" else None
    with pytest.MonkeyPatch.context() as mp:
        _with_simhashes(mp, sims)
        got_path, got_handles, got = _run(spark, pages, group_col)
        mp.setattr(config, "DRIVER_MAX_ROWS", -1)
        forced_path, forced_handles, forced = _run(spark, pages, group_col)
    assert (got_path, forced_path) == (path, "spark")
    assert forced_handles == got_handles + 2
    for name in got:
        assert got[name] == forced[name], name
    # the corpus shapes were live: a span edge, a SimHash-only edge
    assert got["overlap_edges"]
    sa_sb = [e for e in got["edges"] if e[:2] == ("sa", "sb")]
    assert sa_sb and sa_sb[0][2] < CFG.jaccard_threshold


# a small shingle alphabet so payloads overlap; the signed 64-bit extremes
# ride along
_SHINGLES = [-(1 << 63), -7, 0, 1, 5, 9, 1 << 40, (1 << 63) - 1]


@st.composite
def _payloads(draw):
    """Score payload rows (url, simhash, n_shingles, shingles): shingle
    arrays with repeats and empty ones, a null or wrong ``n_shingles`` now
    and then, SimHashes a few bits apart."""
    n = draw(st.integers(2, 7))
    base = draw(st.integers(-(1 << 63), (1 << 63) - 1))
    rows = []
    for i in range(n):
        shingles = draw(st.lists(st.sampled_from(_SHINGLES), max_size=10))
        n_sh = draw(st.sampled_from([len(set(shingles)), None, 0, 3]))
        flips = draw(st.lists(st.integers(0, 63), max_size=5))
        sim = base
        for bit in flips:
            sim ^= 1 << bit
        rows.append((f"d{i}", _signed(sim % (1 << 64)), n_sh, shingles))
    return rows


def _bits(v):
    """A row value with each double as its IEEE-754 bit pattern."""
    return struct.pack("<d", v) if isinstance(v, float) else v


@settings(max_examples=10, deadline=None, derandomize=True)
@given(rows=_payloads())
def test_driver_scorer_equals_spark_scorer(spark, rows):
    """``driver_score_pairs`` returns ``score_pairs``' rows: every pair,
    all six columns, doubles equal bit for bit."""
    schema = "url string, simhash long, n_shingles int, shingles array<long>"
    sigs = spark.createDataFrame(rows, schema)
    pairs = [(a[0], b[0]) for a, b in itertools.combinations(rows, 2)]
    cols = ["id_a", "id_b", "est_jaccard", "hamming", "jaccard", "containment"]
    got = score_pairs(
        spark.createDataFrame(pairs, "id_a string, id_b string"), sigs, CFG
    )
    assert got.columns == cols
    table = pa.Table.from_pylist(
        [dict(zip(["url", "simhash", "n_shingles", "shingles"], r)) for r in rows],
        schema=pa.schema([("url", pa.string()), ("simhash", pa.int64()),
                          ("n_shingles", pa.int32()),
                          ("shingles", pa.list_(pa.int64()))]),
    )
    want = driver_score_pairs(pairs, table, CFG)
    assert list(want) == cols
    want_rows = sorted(
        tuple(_bits(want[c][i]) for c in cols) for i in range(len(pairs))
    )
    got_rows = sorted(tuple(_bits(v) for v in r) for r in got.collect())
    assert got_rows == want_rows


def _pages(spark, rows):
    return spark.createDataFrame(rows, "url string, text string")


FAMILY = [("fam0", _words("fam", 40)), ("fam1", _words("fam", 40) + " tail"),
          ("noise", _words("noise", 30))]


@pytest.fixture
def plan_calls(monkeypatch):
    """Names of the Spark candidate and score plans run_pipeline builds."""
    calls: list[str] = []
    for name in ("candidate_stage", "score_pairs"):
        real = getattr(pipeline, name)

        def spy(*a, _real=real, _name=name, **kw):
            calls.append(_name)
            return _real(*a, **kw)

        monkeypatch.setattr(pipeline, name, spy)
    return calls


_PASSES = itertools.count()


def _pass_jobs(spark, pages, cfg):
    """run_pipeline's result and the number of Spark jobs it ran."""
    sc = spark.sparkContext
    group = f"driver-pass-{next(_PASSES)}"  # the tracker keeps every group's jobs
    sc.setJobGroup(group, group)
    try:
        result = pipeline.run_pipeline(spark, pages, cfg)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    return result, jobs


def test_driver_pass_job_count_is_pinned(spark, plan_calls):
    """A below-bound, span-free pass on the driver path runs 2 jobs: the
    signature count that fills the cache and the one signature collect.
    Components and clusters are built on the driver. It builds no candidate
    or score plan."""
    cfg = DedupConfig(shingle_k=3, jaccard_threshold=0.7, span_pass=False,
                      shuffle_partitions=4, signature_partitions=4)
    result, jobs = _pass_jobs(spark, _pages(spark, FAMILY), cfg)
    try:
        assert result.path == "driver"
        assert plan_calls == []
        assert jobs == 2
        assert _rows(result.edges.select("id_a", "id_b")) == [("fam0", "fam1")]
    finally:
        result.release()


def test_span_on_driver_pass_runs_no_more_jobs(spark, plan_calls):
    """With the span pass on and every fingerprint bucket inside one cluster,
    the driver pass runs the span-free pass's 2 jobs: the gate reads the
    collected span fingerprints, and no emptiness probe of the span edges
    runs."""
    result, jobs = _pass_jobs(spark, _pages(spark, FAMILY), CFG)
    try:
        assert result.path == "driver"
        assert plan_calls == []
        assert jobs == 2
        assert _rows(result.overlap_edges) == []
        assert _rows(result.clusters) == [
            ("fam0", "fam0"), ("fam1", "fam0"), ("noise", "noise")
        ]
    finally:
        result.release()


FAM0 = _words("fam0", 120)
SHORT = " ".join(FAM0.split(" ")[20:57] + ["sx", "sy"])


def _shares_fingerprint(a: str, b: str) -> bool:
    """Whether two texts' span fingerprints intersect, from the package's
    own normalize and signature kernels."""
    texts = pd.Series([review_to_wordlist(a), review_to_wordlist(b)])
    fps = compute_signatures_pdf(texts, CFG, TokenHasher(CFG.minhash_seed)).span_fps
    return bool(set(fps[0]) & set(fps[1]))


@st.composite
def _tail_corpora(draw, variant):
    """Pages (url, text, grp) for the driver tail. Every variant but ``pure``
    and ``prefix`` spreads its docs over groups g0, g1 and NULL.

    - families of 2-3 near-duplicates of 120 words;
    - ``short``: 37 words from inside a family's text and 2 of its own:
      under ``min_overlap_span`` tokens, so the span pass drops it, though
      it shares a fingerprint with the family (``_shares_fingerprint``);
    - 1-2 zero-shingle docs and 0-2 noise docs;
    - ``pure*``: no fingerprint bucket holds two clusters, so the tail is
      taken; ``pure_grouped`` puts a prefix copy (below) in another group
      than its source;
    - ``shell``: a page inside a boilerplate shell; ``shell_null`` puts the
      trio in the NULL group; ``prefix``: a doc whose first 60 words are a
      family's, then 100 of its own. These three must fall back."""
    groups = [None] if variant in ("pure", "prefix") else ["g0", "g1", None]
    rows = []

    def add(url, text, group="draw"):
        if group == "draw":
            group = draw(st.sampled_from(groups))
        rows.append((url, text, group))

    for f, size in enumerate(draw(st.lists(st.integers(2, 3), min_size=1,
                                           max_size=3))):
        base = FAM0 if f == 0 else _words(f"fam{f}", 120)
        g = draw(st.sampled_from(groups))
        for m in range(size):
            add(f"fam{f}m{m}", f"{base} tail{m}", g)
    add("short", SHORT)
    for i in range(draw(st.integers(1, 2))):
        add(f"zero{i}", f"zq{i}")
    for i in range(draw(st.integers(0, 2))):
        add(f"noise{i}", _words(f"noise{i}", 50))
    prefix = " ".join(FAM0.split(" ")[:60]) + " " + _words("own", 100)
    if variant == "pure_grouped":
        add("prefix", prefix, "g1" if rows[0][2] != "g1" else "g0")
    elif variant == "prefix":
        add("prefix", prefix, rows[0][2])
    elif variant.startswith("shell"):
        g = None if variant == "shell_null" else draw(st.sampled_from(groups))
        content = _words("story", 50)
        shell = _words("boiler", 60)
        add("page", content, g)
        add("page-copy", content + " tail", g)
        add("shellpage", f"{shell} {content} {shell}", g)
    return rows


def _spy_tail(mp) -> list[str]:
    """Names of the span and components plans the pass builds."""
    from cqaduplicatefind_spark.operators import overlap

    calls: list[str] = []
    for mod, name in ((overlap, "exact_span_edges"),
                      (pipeline, "connected_components")):
        real = getattr(mod, name)

        def spy(*a, _real=real, _name=name, **kw):
            calls.append(_name)
            return _real(*a, **kw)

        mp.setattr(mod, name, spy)
    return calls


@pytest.mark.parametrize("variant, tail", [
    ("pure", True),
    ("pure_grouped", True),
    ("shell", False),
    ("shell_null", False),
    ("prefix", False),
])
@settings(max_examples=2, deadline=None, derandomize=True)
@given(data=st.data())
def test_driver_tail_equals_spark_path(spark, variant, tail, data):
    """Differential: a driver-path pass finishes on the driver (no span or
    components plan) exactly when no fingerprint bucket holds two clusters,
    and either way gives the forced Spark path's edges, span edges and
    clusters."""
    rows = data.draw(_tail_corpora(variant))
    pages = spark.createDataFrame(rows, "url string, text string, grp string")
    group_col = "grp" if variant != "pure" else None
    with pytest.MonkeyPatch.context() as mp:
        calls = _spy_tail(mp)
        got_path, _, got = _run(spark, pages, group_col)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(config, "DRIVER_MAX_ROWS", -1)
        _, _, forced = _run(spark, pages, group_col)
    assert got_path == "driver"
    # a fallback's span edges go through the second components run
    assert calls == ([] if tail else ["exact_span_edges", "connected_components"])
    for name in ("edges", "overlap_edges", "clusters"):
        assert got[name] == forced[name], name
    assert bool(got["overlap_edges"]) != tail
    assert len(got["clusters"]) == len(rows)
    # the corpus shape was live: the short doc is its own cluster
    assert _shares_fingerprint(FAM0, SHORT)
    assert ("short", "short") in got["clusters"]


@pytest.mark.parametrize("case", ["hot", "dup_url", "above_bound"])
def test_fallback_runs_the_spark_plans(spark, monkeypatch, plan_calls, case):
    rows, cfg = list(FAMILY), CFG
    if case == "hot":
        rows += [(f"hot{i}", _words("hot", 40))
                 for i in range(cfg.max_band_group + 1)]
    elif case == "dup_url":
        rows.append(("noise", _words("other", 30)))
    else:
        # three docs x 16 bands = 48 band rows: over a bound of 47
        monkeypatch.setattr(config, "DRIVER_MAX_ROWS", 3 * cfg.bands - 1)
    result = pipeline.run_pipeline(spark, _pages(spark, rows), cfg)
    try:
        assert result.path == "spark"
        assert "candidate_stage" in plan_calls and "score_pairs" in plan_calls
        assert ("fam0", "fam1") in _rows(result.edges.select("id_a", "id_b"))
    finally:
        result.release()
