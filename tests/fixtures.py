"""Deterministic synthetic fixtures per FIXTURES.md.

Generates the ``pages`` table in the authoritative ``input_hint`` shape
(url, warc_ts, html, text, lang) plus golden outputs (``gold_edges``,
``gold_clusters``) with seeded, wall-clock-free randomness so every run reproduces
identical bytes.

Cluster construction mirrors the reference's ground-truth model (per-question
``dups`` lists, ``/root/reference/src/JsonToCsvConverter.py:17-22``) recast as edge
sets: documents inside a cluster are token-level mutations of a shared template at a
controlled edit rate, so intra-cluster shingle-Jaccard stays >= the dup threshold and
inter-cluster Jaccard stays far below it. Includes exact byte duplicates,
near-duplicates, substring-containment pairs (for the exact-span pass), and
singletons.

The ``text`` column is defined as strip_tags(html) by construction, so the
byte-identity invariant holds exactly (BASELINE.json ``input_hint``).
"""

from __future__ import annotations

import datetime as dt
import html as html_mod
import itertools
import random
from dataclasses import dataclass

from cqaduplicatefind_spark.functions.html_strip import strip_tags

_EPOCH = dt.datetime(2020, 1, 1, tzinfo=dt.timezone.utc)

# deterministic vocabulary: stems differ, content-word-like
_VOCAB_SIZE = 4000


def _vocab() -> list[str]:
    roots = [
        "data", "query", "spark", "table", "shard", "merge", "token", "batch",
        "cloud", "index", "vector", "stream", "graph", "cache", "joint", "field",
        "model", "layer", "train", "score", "fetch", "parse", "chunk", "block",
    ]
    out = []
    for i in range(_VOCAB_SIZE):
        r = roots[i % len(roots)]
        out.append(f"{r}{i // len(roots):03d}")
    return out


@dataclass(frozen=True)
class FixtureSpec:
    n_pages: int = 1000
    seed: int = 42
    dup_fraction: float = 0.35        # fraction of pages that live in dup clusters
    max_cluster: int = 5
    near_dup_edit_rate: float = 0.01  # token substitution prob inside a cluster
    min_tokens: int = 100
    max_tokens: int = 2000
    containment_fraction: float = 0.1  # clusters whose 2nd member is a substring copy
    exact_dup_fraction: float = 0.2    # clusters whose 2nd member is byte-identical
    other_langs: tuple[str, ...] = ("de", "fr", "es")
    other_lang_every: int = 23


def _wrap_html(rnd: random.Random, tokens: list[str], title: str) -> str:
    """Deterministically wrap tokens into HTML exercising the stripper: nested tags,
    entities, numeric charrefs, comments, script/style, attributes, malformed tags."""
    parts: list[str] = ["<!DOCTYPE html><html><head><title>", html_mod.escape(title)]
    parts.append("</title><!-- comment dropped by parser --></head><body>")
    if rnd.random() < 0.3:
        parts.append("<script>var x = 1;</script>")  # parser keeps script text
    parts.append(f'<div class="c{rnd.randrange(10)}"><p>')
    for i, tok in enumerate(tokens):
        if i and i % 37 == 0:
            parts.append("</p>\n<p>")
        r = rnd.random()
        if r < 0.02:
            parts.append(f"<b>{tok}</b> ")
        elif r < 0.03:
            parts.append(f"<i>{tok}</i> ")
        elif r < 0.035:
            # entity-encode a char inside the token
            parts.append(tok[:1] + f"&#{ord(tok[1])};" + tok[2:] + " ")
        elif r < 0.04:
            parts.append(tok + "&amp; ")  # decodes to '&' in text
        else:
            parts.append(tok + " ")
    parts.append("</p></div><p>unclosed paragraph<br>")
    parts.append("</body></html>")
    return "".join(parts)


def generate_pages(spec: FixtureSpec = FixtureSpec()):
    """Returns (pages_rows, gold_edges, gold_clusters) as plain Python lists.

    pages_rows: (url, warc_ts, html_bytes, text, lang)
    gold_edges: (src, dst) with src < dst — all intra-cluster pairs
    gold_clusters: (url, cluster_id) — cluster_id = min url in component
    """
    rnd = random.Random(spec.seed)
    vocab = _vocab()

    # plan cluster sizes
    remaining = spec.n_pages
    n_dup_docs = int(spec.n_pages * spec.dup_fraction)
    cluster_sizes: list[int] = []
    while n_dup_docs >= 2:
        size = min(rnd.randint(2, spec.max_cluster), n_dup_docs)
        cluster_sizes.append(size)
        n_dup_docs -= size
    n_singletons = remaining - sum(cluster_sizes)

    docs: list[tuple[list[str], int]] = []  # (tokens, cluster_idx or -1)
    for ci, size in enumerate(cluster_sizes):
        n_tok = rnd.randint(spec.min_tokens, spec.max_tokens)
        template = [rnd.choice(vocab) for _ in range(n_tok)]
        docs.append((template, ci))
        mode_roll = rnd.random()
        for m in range(1, size):
            if m == 1 and mode_roll < spec.exact_dup_fraction:
                member = list(template)  # byte-identical token stream
            elif m == 1 and mode_roll < spec.exact_dup_fraction + spec.containment_fraction:
                # substring containment: a long prefix slice + small boilerplate tail
                cut = max(spec.min_tokens, int(len(template) * 0.9))
                member = template[:cut] + ["footer000", "footer001", "footer002"]
            else:
                # near-duplicate: mutate a capped number of positions so the
                # template<->member shingle Jaccard stays ~0.9 (>= dup threshold)
                # regardless of doc length: m token edits cost <= 2*k*m shingles,
                # J >= (n - k*m)/(n + k*m); m <= n/50 with k=5 gives J >= ~0.82.
                n = len(template)
                m = max(1, min(int(n * spec.near_dup_edit_rate), n // 50))
                member = list(template)
                for pos in rnd.sample(range(n), m):
                    member[pos] = rnd.choice(vocab)
            docs.append((member, ci))
    for _ in range(n_singletons):
        n_tok = rnd.randint(spec.min_tokens, spec.max_tokens)
        docs.append(([rnd.choice(vocab) for _ in range(n_tok)], -1))

    # deterministic shuffle so clusters are scattered across the table
    order = list(range(len(docs)))
    rnd.shuffle(order)

    pages = []
    url_cluster: list[tuple[str, int]] = []
    for pos, di in enumerate(order):
        tokens, ci = docs[di]
        url = f"https://example-{pos:07d}.test/page"
        ts = _EPOCH + dt.timedelta(seconds=pos * 17)
        lang = (
            spec.other_langs[pos % len(spec.other_langs)]
            if pos % spec.other_lang_every == 0
            else "en"
        )
        title = " ".join(tokens[:5])
        html = _wrap_html(random.Random(spec.seed * 1_000_003 + di), tokens, title)
        text = strip_tags(html)  # invariant by construction
        pages.append((url, ts, html.encode("utf-8"), text, lang))
        if ci >= 0:
            url_cluster.append((url, ci))

    by_cluster: dict[int, list[str]] = {}
    for url, ci in url_cluster:
        by_cluster.setdefault(ci, []).append(url)

    gold_edges = []
    gold_clusters = []
    for urls in by_cluster.values():
        urls_sorted = sorted(urls)
        rep = urls_sorted[0]
        for u in urls_sorted:
            gold_clusters.append((u, rep))
        for a, b in itertools.combinations(urls_sorted, 2):
            gold_edges.append((a, b))
    clustered = {u for u, _ in gold_clusters}
    for url, *_ in pages:
        if url not in clustered:
            gold_clusters.append((url, url))

    return pages, sorted(gold_edges), sorted(gold_clusters)


PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"


def pages_df(spark, spec: FixtureSpec = FixtureSpec()):
    """Materialize the fixture as DataFrames: (pages, gold_edges, gold_clusters)."""
    pages, edges, clusters = generate_pages(spec)
    pdf = spark.createDataFrame(pages, schema=PAGES_SCHEMA)
    edf = spark.createDataFrame(edges, schema="src string, dst string")
    cdf = spark.createDataFrame(clusters, schema="url string, cluster_id string")
    return pdf, edf, cdf


def cluster_exact_match(predicted, gold) -> bool:
    """Exact cluster-assignment equality (both labeled by min-member url)."""
    diff1 = predicted.exceptAll(gold).count()
    diff2 = gold.exceptAll(predicted).count()
    return diff1 == 0 and diff2 == 0
