"""Randomized differential test of a whole pipeline pass against a pure-Python
brute force over every pair of documents.

The brute force signs the same normalized texts with the package's kernels
(``compute_signatures_pdf``) and links a pair when the pipeline's accept
rule holds over the exact evidence (shingle Jaccard, SimHash Hamming,
shingle containment) or when the two texts share a contiguous run of
``min_overlap_span`` tokens (the span pass). A union-find over those links
gives the true clusters. The pipeline's clusters must be exact (precision
1.0) and near-complete (recall >= 0.99) on the driver path and on the Spark
plans (``DRIVER_MAX_ROWS = -1``)."""

from __future__ import annotations

import itertools

import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st

from cqaduplicatefind_spark import config
from cqaduplicatefind_spark.config import DedupConfig
from cqaduplicatefind_spark.functions.hashing import TokenHasher
from cqaduplicatefind_spark.functions.normalize import review_to_wordlist
from cqaduplicatefind_spark.functions.signatures import compute_signatures_pdf
from cqaduplicatefind_spark.plans.pipeline import run_pipeline

CFG = DedupConfig(shingle_k=3, jaccard_threshold=0.7, min_overlap_span=40,
                  shuffle_partitions=4, signature_partitions=4)


def _words(tag, n):
    return [f"{tag}w{j}" for j in range(n)]


def _jaccard(a, b, k):
    sa = {tuple(a[i:i + k]) for i in range(len(a) - k + 1)}
    sb = {tuple(b[i:i + k]) for i in range(len(b) - k + 1)}
    return len(sa & sb) / len(sa | sb)


@st.composite
def _corpora(draw):
    """(url, text) rows with:

    - 1-3 planted families of 2-4 near-duplicates: a 60-80 token base, each
      member with one substituted token or an extra tail token, plus a near
      miss of the base below every accept threshold;
    - optionally a hot template bucket: more than ``max_band_group`` copies
      of one template, each with its own tail token (a hot band bucket: the
      pass falls back to its Spark plans);
    - 1-3 zero-shingle docs (under ``shingle_k`` tokens, or stopwords only);
    - 1-2 containment shells: boilerplate around a story page's text, so
      only the span pass links them (low Jaccard, no band collision), and a
      page quoting a run of the story too short to link;
    - 0-3 unrelated noise docs.

    Every true link is a high-Jaccard pair or a shared run of at least
    ``min_overlap_span`` tokens: the kinds of pair the pipeline's discovery
    is built to find. A short doc wholly inside a long one (containment
    without a long shared run) is not generated: no candidate route covers
    it."""
    rows = []
    for f, size in enumerate(draw(st.lists(st.integers(2, 4), min_size=1,
                                           max_size=3))):
        base = _words(f"fam{f}", draw(st.integers(60, 80)))
        for m in range(size):
            toks = list(base)
            if draw(st.booleans()):
                toks[draw(st.integers(0, len(toks) - 1))] = f"fam{f}sub{m}"
            else:
                toks.append(f"fam{f}tail{m}")
            rows.append((f"fam{f}m{m}", " ".join(toks)))
        # a near miss: spread substitutions, each of the base's fifths at
        # most one, until the Jaccard to the base falls below 0.68 (to any
        # member it is no higher), so the pair is a likely LSH candidate that
        # verify must reject; no run of min_overlap_span tokens survives
        toks = list(base)
        shift = draw(st.integers(0, 3))
        for i in range(5):
            if _jaccard(toks, base, CFG.shingle_k) < 0.68:
                break
            j = (2 * i + 1) * len(toks) // 10 + shift
            toks[j] = f"fam{f}drift{j}"
        rows.append((f"fam{f}drift", " ".join(toks)))
    hot = draw(st.booleans())
    if hot:
        template = " ".join(_words("tmpl", 60))
        for i in range(CFG.max_band_group + draw(st.integers(1, 3))):
            rows.append((f"hot{i}", f"{template} hot{i}tail"))
    rows += [("empty", ""), ("stop", "the and of")][: draw(st.integers(1, 2))]
    rows += [(f"short{i}", f"zq{i} zr{i}") for i in range(draw(st.integers(0, 1)))]
    for s in range(draw(st.integers(1, 2))):
        story = " ".join(_words(f"story{s}", draw(st.integers(45, 60))))
        shell = " ".join(_words(f"boiler{s}", 80))
        rows.append((f"story{s}", story))
        rows.append((f"shell{s}", f"{shell} {story} {shell}"))
        # quotes a run one token short of min_overlap_span: it shares span
        # fingerprints with the story and the shell but is no span edge
        run = CFG.min_overlap_span - 1
        at = draw(st.integers(0, len(story.split()) - run))
        quote = story.split()[at:at + run] + _words(f"quote{s}", 30)
        rows.append((f"quote{s}", " ".join(quote)))
    for i in range(draw(st.integers(0, 3))):
        rows.append((f"noise{i}", " ".join(_words(f"noise{i}", 50))))
    return rows, hot


def _components(urls, links):
    parent = {u: u for u in urls}

    def find(u):
        while parent[u] != u:
            parent[u] = parent[parent[u]]
            u = parent[u]
        return u

    for a, b in links:
        parent[find(a)] = find(b)
    return {u: find(u) for u in urls}


def _co_clustered(label):
    members: dict = {}
    for u, c in label.items():
        members.setdefault(c, []).append(u)
    return {
        tuple(sorted(p))
        for group in members.values()
        for p in itertools.combinations(group, 2)
    }


def _true_links(rows, cfg):
    """Every pair the brute force links (sorted url pairs)."""
    urls = [u for u, _ in rows]
    norm = [review_to_wordlist(t) for _, t in rows]
    sig = compute_signatures_pdf(pd.Series(norm), cfg, TokenHasher(cfg.minhash_seed))
    shingles = [set(s.tolist()) for s in sig["shingles"]]
    sim = [int(v) & ((1 << 64) - 1) for v in sig["simhash"]]
    span = cfg.min_overlap_span
    runs = []
    for text in norm:
        toks = text.split(" ") if text else []
        runs.append({tuple(toks[i:i + span]) for i in range(len(toks) - span + 1)})
    links = set()
    for i, j in itertools.combinations(range(len(urls)), 2):
        a, b = shingles[i], shingles[j]
        linked = bool(runs[i] & runs[j])
        if a and b:
            inter = len(a & b)
            linked |= inter / len(a | b) >= cfg.jaccard_threshold
            linked |= (cfg.accept_hamming
                       and bin(sim[i] ^ sim[j]).count("1") <= cfg.hamming_k)
            linked |= inter / min(len(a), len(b)) >= cfg.containment_accept
        if linked:
            links.add(tuple(sorted((urls[i], urls[j]))))
    return links


@settings(max_examples=3, deadline=None, derandomize=True)
@given(corpus=_corpora())
def test_pipeline_matches_brute_force(spark, corpus):
    rows, hot = corpus
    links = _true_links(rows, CFG)
    truth = _co_clustered(_components([u for u, _ in rows], links))
    assert any(u.startswith("shell") for pair in links for u in pair)
    pages = spark.createDataFrame(rows, "url string, text string")
    for bound, path in ((None, "spark" if hot else "driver"), (-1, "spark")):
        with pytest.MonkeyPatch.context() as mp:
            if bound is not None:
                mp.setattr(config, "DRIVER_MAX_ROWS", bound)
            result = run_pipeline(spark, pages, CFG)
            try:
                assert result.path == path
                edges = {tuple(sorted(r[:2])) for r in result.edges.collect()}
                edges |= {tuple(sorted(r[:2]))
                          for r in result.overlap_edges.collect()}
                got = _co_clustered(dict(result.clusters.collect()))
            finally:
                result.release()
        assert edges <= links, sorted(edges - links)
        hit = len(got & truth)
        assert hit == len(got), sorted(got - truth)  # precision 1.0
        assert hit >= 0.99 * len(truth), sorted(truth - got)
