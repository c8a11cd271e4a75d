"""Text normalization pipeline — exact replication of the reference's
``review_to_wordlist`` (``/root/reference/src/DataSetUtil.py:48-86``; a byte-identical
duplicate exists at ``src/JsonToCsvConverter.py:40-78``).

Order is semantic and must not be changed (the reference removes stopwords BEFORE the
regex cleanup and stems LAST):

1. lowercase + whitespace split
2. drop English stopwords (vendored list, see ``stopwords.py``)
3. re-join with single spaces
4. regex pipeline (keep ``A-Za-z0-9(),!.?'``` — everything else to space; pad
   contraction suffixes ``'s 've n't 're 'd 'll``; strip ``,.!?``; pad parens;
   collapse runs of whitespace)
5. whitespace split
6. Snowball('english') stem each token (vendored Porter2, see ``snowball.py``)
7. re-join with single spaces

Exposed both as a plain-Python function (for tests/goldens/oracles) and as an
Arrow-batched pandas UDF (one compiled-regex + stemmer cache shared per batch; no
per-row Python UDF registration, per BASELINE.json ``input_hint``).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from cqaduplicatefind_spark.functions.snowball import stem
from cqaduplicatefind_spark.functions.stopwords import ENGLISH_STOPWORDS

# compiled once per process; applied in the reference's exact order
_RULES: tuple[tuple[re.Pattern, str], ...] = (
    (re.compile(r"[^A-Za-z0-9(),!.?\'\`]"), " "),
    (re.compile(r"\'s"), " 's "),
    (re.compile(r"\'ve"), " 've "),
    (re.compile(r"n\'t"), " 't "),
    (re.compile(r"\'re"), " 're "),
    (re.compile(r"\'d"), " 'd "),
    (re.compile(r"\'ll"), " 'll "),
    (re.compile(r","), " "),
    (re.compile(r"\."), " "),
    (re.compile(r"!"), " "),
    (re.compile(r"\("), " ( "),
    (re.compile(r"\)"), " ) "),
    (re.compile(r"\?"), " "),
    (re.compile(r"\s{2,}"), " "),
)


def review_to_wordlist(review: str, remove_stopwords: bool = True) -> str:
    """Reference-exact normalization of one document; returns the normalized string
    (single-space-joined stemmed tokens)."""
    words = review.lower().split()
    if remove_stopwords:
        words = [w for w in words if w not in ENGLISH_STOPWORDS]
    text = " ".join(words)
    for pattern, repl in _RULES:
        text = pattern.sub(repl, text)
    return " ".join(stem(w) for w in text.split())


# process-level memo: dedup corpora are full of byte-identical texts (that's the
# workload); re-normalizing each copy wastes the whole regex+stem pipeline.
# Keys are 16-byte blake2b digests of the raw text — NOT the text itself — and the
# memo is bounded by total stored bytes, not entry count: multi-KB web pages would
# otherwise pin gigabytes per Python worker (200k entries x pages of tens of KB).
_NORM_MEMO: dict[bytes, str] = {}
_NORM_MEMO_BYTE_BUDGET = 64 * 1024 * 1024  # per worker process
_NORM_MEMO_BYTES = 0


def _normalize_memo(v: str | None) -> str | None:
    global _NORM_MEMO_BYTES
    if v is None:
        return None
    import hashlib

    key = hashlib.blake2b(v.encode("utf-8"), digest_size=16).digest()
    out = _NORM_MEMO.get(key)
    if out is None:
        out = review_to_wordlist(v)
        cost = len(out) + 64  # stored value + key/dict overhead estimate
        if _NORM_MEMO_BYTES + cost <= _NORM_MEMO_BYTE_BUDGET:
            _NORM_MEMO[key] = out
            _NORM_MEMO_BYTES += cost
    return out


@F.pandas_udf(StringType())
def normalize_udf(text: pd.Series) -> pd.Series:
    """Arrow-batched review_to_wordlist (stopwords removed, reference default)."""
    return text.map(_normalize_memo)


def with_normalized_text(df, text_col: str = "text", out_col: str = "norm_text"):
    """pages(text) -> pages + normalized text. Narrow map, no shuffle."""
    return df.withColumn(out_col, normalize_udf(F.col(text_col)))

