"""Heuristic language ID as pure Catalyst expressions (whole-stage codegen,
zero Python): it runs per document over 10^12 rows, so it stays JVM-side.
The ``lang_id_histogram`` registry row checks it against a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# Compact per-language marker sets (top high-frequency function words that are
# strongly language-specific). An n-gram model would use mapInPandas; for a
# pipeline gate this word-marker heuristic is the standard cheap first pass.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "for", "with", "was"),
    "de": ("der", "die", "und", "das", "ist", "nicht", "ein", "mit", "sich", "auf"),
    "fr": ("le", "la", "les", "des", "est", "une", "dans", "que", "pour", "qui"),
    "es": ("el", "los", "las", "una", "es", "que", "por", "con", "para", "del"),
}


def distinct_tokens_expr(text_col) -> Column:
    """Distinct lowercase whitespace tokens — project this ONCE and feed
    ``lang_id_from_tokens``: inlining it per language makes Catalyst evaluate the
    split+distinct four times (it was the slowest scalar query in the bench)."""
    return F.array_distinct(F.split(F.lower(text_col), r"\s+"))


def lang_id_from_tokens(toks_col) -> Column:
    """Language with the highest marker-word hit count over a pre-computed
    distinct-token array; 'und' (undetermined) when nothing matches."""
    scores = [
        (
            lang,
            F.size(
                F.array_intersect(toks_col, F.array(*[F.lit(w) for w in markers]))
            ),
        )
        for lang, markers in LANG_MARKERS.items()
    ]
    best_score = F.greatest(*[s for _, s in scores])
    pick = F.lit("und")
    # deterministic priority order on ties: en > de > fr > es (reversed fold)
    for lang, s in reversed(scores):
        pick = F.when((s == best_score) & (best_score > 0), F.lit(lang)).otherwise(pick)
    return pick
