"""Dump `explain("formatted")` physical plans for the headline queries and the
pipeline stages into PLANS.md — the evidence that pushdown / pruning / broadcast /
partial aggregation / shuffle budget actually hold (tests/test_plan_quality.py
asserts the load-bearing properties; this file is for human review).

Usage: python tools/plan_audit.py [sf_dir] [out_md]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

AUDITED_QUERIES = [
    "filter_predicate",          # PushedFilters at the parquet scan
    "projection_pushdown",       # pruned ReadSchema
    "broadcast_dim_join",        # BroadcastHashJoin, not SortMergeJoin
    "multiway_join_agg",         # join order + two broadcasts + partial agg
    "groupby_agg_tpch_q1",       # HashAggregate partial/final pair
    "window_topk_per_group",     # single window exchange
    "ngram_jaccard_pairs",       # explode + self-join shape
    "ann_cosine_topk",           # brute-force crossJoin baseline (documented)
    "ann_ivf_topk",              # IVF probe equi-join + window re-rank (no crossJoin)
    "exact_substring_removal",   # map-side-combined owner agg; single MapInPandas rebuild
    "top_ngrams_corpus",         # slim (hash,count) exchange + TakeOrderedAndProject
    "stratified_sample_docs",    # broadcast rate table, zero shuffles
    "contamination_flags",       # Bloom gate + broadcast confirm join
    "fuzzy_contamination_flags", # broadcast bench-gram probe; 2 slim count aggs
    "unigram_logprob_quality",   # broadcast vocab head; only the rare tail shuffles
    "shard_packing",             # bucketed prefix-sum windows, no global single-task sort
    "cap_per_host_topk",         # salted two-phase per-host top-K windows
    "bm25_topk_retrieval",       # inverted-index join, partial-agg sum, WindowGroupLimit
    "intra_doc_line_dedup",      # ONE codegen projection: zero exchanges, zero Python
    "multimodal_phash_groups",   # scan -> ONE MapInPandas -> partial/final agg (codec on executors)
    "multimodal_audio_dedup",    # same narrow-map shape for the audio codec
    "multimodal_video_dedup",    # same narrow-map shape for the AVI container codec
    "bm25_retrieval_eval_directed",  # directed eval: same join tree as the symmetric row
]


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out_md = sys.argv[2] if len(sys.argv) > 2 else "PLANS.md"

    import __spark_entry__ as entry
    from cqaduplicatefind_spark.config import DedupConfig
    from cqaduplicatefind_spark.plans.pipeline import (
        candidate_stage,
        signature_stage,
    )
    from cqaduplicatefind_spark.session import build_session

    spark = build_session(
        app_name="plan-audit", master="local[4]", shuffle_partitions=8,
        extra={"spark.ui.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    jvm = spark._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")

    sections = [
        "# Physical-plan audit\n",
        f"Generated by `tools/plan_audit.py` against `{sf_dir}`. Load-bearing "
        "properties are asserted in `tests/test_plan_quality.py`; this file is "
        "the full `explain(\"formatted\")` output for review.\n",
    ]

    qs = entry.queries()
    for name in AUDITED_QUERIES:
        df = qs[name](spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(mode)
        sections.append(f"\n## query: {name}\n\n```\n{plan}\n```\n")

    cfg = DedupConfig(shingle_k=3, shuffle_partitions=8, signature_partitions=8)
    pages = spark.read.parquet(f"{sf_dir}/documents.parquet").selectExpr(
        "cast(doc_id as string) as url", "text"
    )
    sigs = signature_stage(pages, cfg)
    sections.append(
        "\n## pipeline: normalize + signatures (narrow map — one input "
        "repartition, zero other exchanges)\n\n```\n"
        + sigs._jdf.queryExecution().explainString(mode)
        + "\n```\n"
    )
    sigs = sigs.persist()
    sigs.count()
    cand = candidate_stage(sigs, cfg)
    sections.append(
        "\n## pipeline: candidate stage over persisted signatures (shuffle key "
        "families: (band,bh), (piece,pv), (id_a,id_b); identical exchanges "
        "reused at runtime by AQE)\n\n```\n"
        + cand._jdf.queryExecution().explainString(mode)
        + "\n```\n"
    )
    sigs.unpersist()

    with open(out_md, "w") as f:
        f.write("".join(sections))
    print(f"wrote {out_md} ({len(AUDITED_QUERIES)} queries + 2 pipeline stages)")
    spark.stop()


if __name__ == "__main__":
    main()
