"""Seeded Common-Crawl-style corpus and gold duplicate clusters.

The generator lives with the benchmark, not in the package, so a change to the
package cannot silently change the load the benchmark measures. Everything is
drawn from one ``random.Random(seed)``: the same seed gives byte-identical
rows, another seed gives different rows (``generate_checked``).

Rows have the package's ``pages`` shape ``(url, warc_ts, html, text, lang)``
with ``text == strip_tags(html)``. Gold clusters are lists of urls; every pair
inside one gold cluster is a gold duplicate pair. Four kinds of member are
planted around a cluster's template page:

- near duplicates: about ``edit_rate`` of the tokens substituted, so the
  shingle Jaccard to the template stays near 0.9;
- exact copies: the template's token stream under a different url;
- prefix copies: the first 90% of the template plus a short footer, so the
  copy is contained in the template;
- shells: the template embedded between long runs of tokens unique to the
  shell, so its Jaccard to the template is far below the LSH curve and only
  the exact-span pass links it.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import html as html_mod
import os
import random
import time
from collections import Counter
from dataclasses import dataclass

from cqaduplicatefind_spark.functions.html_strip import strip_tags

_EPOCH = dt.datetime(2021, 3, 1, tzinfo=dt.timezone.utc)
# stopword-free, stem-stable tokens (letters then digits): normalization keeps
# each one as is, so gold Jaccard is computed on the tokens planted here
_ROOTS = (
    "crawl", "shard", "spark", "graph", "index", "token", "vector", "merge",
    "batch", "cache", "query", "model", "layer", "fetch", "parse", "block",
    "stream", "table", "field", "score", "chunk", "joint", "cloud", "train",
)
_VOCAB = tuple(f"{_ROOTS[i % len(_ROOTS)]}{i // len(_ROOTS)}" for i in range(24_000))


@dataclass(frozen=True)
class CorpusSpec:
    n_pages: int
    min_tokens: int
    max_tokens: int
    dup_fraction: float          # share of pages that sit in gold clusters
    max_cluster: int             # largest gold cluster (members incl. template)
    edit_rate: float = 0.01      # token substitutions per near-duplicate
    exact_share: float = 0.15    # cluster members that are exact copies
    prefix_share: float = 0.1    # cluster members that are prefix copies
    shell_share: float = 0.0     # clusters that also get one shell member
    shell_tokens: int = 400      # unique tokens wrapped around a shell


@dataclass
class Corpus:
    rows: list            # (url, warc_ts, html bytes, text, lang)
    clusters: list        # gold clusters: lists of urls, each of size >= 2

    def digest(self) -> str:
        """sha256 over every byte of every row, in row order."""
        h = hashlib.sha256()
        for url, ts, html, text, lang in self.rows:
            for part in (url.encode(), ts.isoformat().encode(), html,
                         text.encode(), lang.encode()):
                h.update(len(part).to_bytes(8, "little"))
                h.update(part)
        return h.hexdigest()


def _member(rnd: random.Random, template: list[str], spec: CorpusSpec) -> list[str]:
    roll = rnd.random()
    if roll < spec.exact_share:
        return list(template)
    if roll < spec.exact_share + spec.prefix_share:
        cut = max(spec.min_tokens, int(len(template) * 0.9))
        return template[:cut] + [rnd.choice(_VOCAB) for _ in range(3)]
    member = list(template)
    n_edits = max(1, int(len(template) * spec.edit_rate))
    for pos in rnd.sample(range(len(template)), n_edits):
        member[pos] = rnd.choice(_VOCAB)
    return member


def _wrap_html(rnd: random.Random, tokens: list[str]) -> str:
    """Tokens inside HTML that exercises the stripper: title, comments,
    inline tags, entities and numeric character references."""
    parts = ["<!DOCTYPE html><html><head><title>",
             html_mod.escape(" ".join(tokens[:4])),
             "</title><!-- nav --></head>\n<body><div class=\"main\"><p>"]
    for i, tok in enumerate(tokens):
        if i and i % 40 == 0:
            parts.append("</p>\n<p>")
        r = rnd.random()
        if r < 0.02:
            parts.append(f"<b>{tok}</b> ")
        elif r < 0.03:
            parts.append(f"{tok[0]}&#{ord(tok[1])};{tok[2:]} ")
        elif r < 0.035:
            parts.append(f"<a href=\"/l/{i}\">{tok}</a> ")
        else:
            parts.append(tok + " ")
    parts.append("</p></div></body></html>")
    return "".join(parts)


def generate(spec: CorpusSpec, seed: int) -> Corpus:
    rnd = random.Random(seed)
    n_tok = lambda: rnd.randint(spec.min_tokens, spec.max_tokens)  # noqa: E731
    docs: list[tuple[list[str], int]] = []   # (tokens, gold cluster or -1)
    left = int(spec.n_pages * spec.dup_fraction)
    n_clusters = 0
    while left >= 2:
        size = min(rnd.randint(2, spec.max_cluster), left)
        template = [rnd.choice(_VOCAB) for _ in range(n_tok())]
        docs.append((template, n_clusters))
        has_shell = size >= 3 and rnd.random() < spec.shell_share
        for _ in range(size - 1 - has_shell):
            docs.append((_member(rnd, template, spec), n_clusters))
        if has_shell:
            head = [rnd.choice(_VOCAB) for _ in range(spec.shell_tokens // 2)]
            tail = [rnd.choice(_VOCAB) for _ in range(spec.shell_tokens // 2)]
            docs.append((head + template + tail, n_clusters))
        left -= size
        n_clusters += 1
    while len(docs) < spec.n_pages:
        docs.append(([rnd.choice(_VOCAB) for _ in range(n_tok())], -1))
    rnd.shuffle(docs)

    rows = []
    clusters: list[list[str]] = [[] for _ in range(n_clusters)]
    for pos, (tokens, ci) in enumerate(docs):
        url = f"https://site{pos % 997:03d}.example/{seed}/{pos:07d}.html"
        ts = _EPOCH + dt.timedelta(seconds=pos * 13)
        lang = "en" if pos % 29 else "de"
        html = _wrap_html(rnd, tokens)
        rows.append((url, ts, html.encode("utf-8"), strip_tags(html), lang))
        if ci >= 0:
            clusters[ci].append(url)
    return Corpus(rows, clusters)


def pair_scores(assignment: dict, clusters: list) -> tuple[float, float]:
    """(recall, precision) of an output assignment ``url -> component`` against
    gold clusters. Recall: gold pairs whose endpoints share a component, over
    gold pairs. Precision: same-component pairs that are gold pairs, over
    same-component pairs (1.0 when the output pairs nothing)."""
    gold_of = {u: i for i, c in enumerate(clusters) for u in c}
    pairs2 = lambda n: n * (n - 1) // 2  # noqa: E731
    out_sizes = Counter(assignment.values())
    both = Counter(
        (gold_of[u], comp) for u, comp in assignment.items() if u in gold_of
    )
    hit = sum(pairs2(n) for n in both.values())
    n_gold = sum(pairs2(len(c)) for c in clusters)
    n_out = sum(pairs2(n) for n in out_sizes.values())
    recall = hit / n_gold if n_gold else 1.0
    precision = hit / n_out if n_out else 1.0
    return recall, precision


def union_find(urls, edges) -> dict:
    """url -> component representative over undirected ``edges``."""
    parent = {u: u for u in urls}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {u: find(u) for u in parent}


def generate_checked(spec: CorpusSpec, seed: int, copies: int = 3):
    """Generate the corpus ``copies`` times. Raise unless every copy is
    byte-identical and the next seed gives different bytes. Returns the
    corpus and the seconds each generation took."""
    seconds, digests = [], set()
    for _ in range(copies):
        t0 = time.perf_counter()
        corpus = generate(spec, seed)
        digests.add(corpus.digest())
        seconds.append(time.perf_counter() - t0)
    if len(digests) != 1:
        raise RuntimeError(f"seed {seed} gave {len(digests)} different corpora")
    small = CorpusSpec(**{**spec.__dict__, "n_pages": min(spec.n_pages, 50)})
    if generate(small, seed + 1).digest() == generate(small, seed).digest():
        raise RuntimeError(f"seeds {seed} and {seed + 1} gave the same corpus")
    return corpus, seconds


def write_parquet(rows, path: str) -> None:
    """Write ``rows`` as one parquet file under ``path``, the crawl dump the
    benchmark loads."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    url, ts, html, text, lang = zip(*rows)
    cols = {
        "url": pa.array(url, pa.string()),
        "warc_ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "html": pa.array(html, pa.binary()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(lang, pa.string()),
    }
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table(cols), os.path.join(path, "part-0.parquet"))
