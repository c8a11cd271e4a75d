"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Headline queries = the flagship dedup pipeline over a synthetic Common-Crawl-style
pages table derived deterministically from the documents table (scaled), plus the
heavier driver-contract queries. Each timing covers plan + execution to a count/write
action (results are row-counted, never collected to the driver).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from cqaduplicatefind_spark.config import DedupConfig
from cqaduplicatefind_spark.session import build_session


def _timed(fn):
    t0 = time.perf_counter()
    n = fn()
    return time.perf_counter() - t0, n


# idle pause before heavyweight timed sections: the sandbox hypervisor grants
# ~30s full-speed CPU bursts, then throttles sustained load (~20% steal);
# back-to-back timings otherwise measure the quota, not the code (protocol
# measured in BASELINE.md; same cool-down the scaling bench uses)
COOLDOWN_SEC = int(os.environ.get("SPARK_GRAFT_BENCH_COOLDOWN", "15"))


def _cooled(fn):
    time.sleep(COOLDOWN_SEC)
    return _timed(fn)


def make_pages(spark, sf_dir: str, replicate: int = 20):
    """Deterministic bench corpus: replicate the documents table with token-level
    perturbations so ~30% of docs form near-dup clusters (same generator semantics
    as fixtures, but built distributed — scales with sf)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    reps = spark.range(replicate).select(F.col("id").alias("rep"))
    base = docs.crossJoin(reps).select(
        F.concat(F.col("doc_id").cast("string"), F.lit("-"), F.col("rep")).alias("url"),
        F.col("doc_id"),
        F.col("rep"),
        F.col("text"),
    )
    # rep 0 keeps the original text (cluster seed); other reps: ~2/3 get a distinct
    # token appended at a rep-dependent position (near-dup), 1/3 keep exact text
    perturbed = base.withColumn(
        "text",
        F.when(
            (F.col("rep") > 0) & (F.col("rep") % 3 != 0),
            F.concat_ws(
                " ",
                F.col("text"),
                F.concat(F.lit("marker"), F.col("rep").cast("string")),
            ),
        ).otherwise(F.col("text")),
    )
    # hash-partition the generated corpus up front: the crossJoin above is a
    # broadcast NLJ whose output inherits the (single-file) parquet scan's
    # partitioning, and a 1-partition cached input would serialize the shuffle
    # write side of every downstream stage. Real inputs arrive as many splits;
    # this makes the synthetic corpus look the same.
    par = spark.sparkContext.defaultParallelism * 2
    return perturbed.select("url", "text").repartition(par, "url")


def bench_pipeline(spark, sf_dir: str) -> dict[str, float]:
    from cqaduplicatefind_spark.plans.pipeline import (
        candidate_stage,
        run_pipeline,
        signature_stage,
    )

    cfg = DedupConfig(shingle_k=3, jaccard_threshold=0.7)
    pages = make_pages(spark, sf_dir).cache()
    n_docs = pages.count()

    times: dict[str, float] = {}

    def _sig():
        return (
            signature_stage(pages, cfg)
            .select(F.sum(F.size("minhash")))
            .collect()
        )

    # min of three runs with per-run evidence: first execution pays one-time
    # per-worker cache warmup (stemmer/token-hash memos); steady-state is what
    # scales to a cluster. The per-run lists ride into the artifact (_runs) so
    # a throttled driver-side number is visibly throttle, not a plan change
    # (r3: driver saw lsh_candidates 8.99s vs builder 3.73s with no evidence
    # in the artifact to adjudicate).
    sig_runs = [_cooled(_sig)[0] for _ in range(3)]
    times["signatures"] = min(sig_runs)

    signatures = signature_stage(pages, cfg).cache()
    signatures.count()

    cand_runs = []
    for _ in range(3):
        t, n_cand = _cooled(lambda: candidate_stage(signatures, cfg).count())
        cand_runs.append(t)
    times["lsh_candidates"] = min(cand_runs)
    signatures.unpersist()

    # run_pipeline executes the CC driver loop eagerly, so time the whole call.
    # Two flavors: without the exact-span pass (comparable to the round-1
    # baseline) and the complete flagship including winnowing span discovery.
    span_extra: list[float] = []
    # the matcher path each pipeline run took ("driver" or "spark")
    paths: set[str] = set()

    def _full(c):
        def run():
            timings: dict = {}
            result = bench_pipeline._last = run_pipeline(
                spark, pages, c, timings=timings
            )
            paths.add(result.path)
            n = result.clusters.count()
            result.release()
            if "span_extra_sec" in timings:
                span_extra.append(timings["span_extra_sec"])
            return n

        return run

    from dataclasses import replace

    # Protocol (round-2 postmortem): one UNTIMED complete-flagship run first —
    # the first pipeline execution pays JVM codegen for the CC star operators,
    # shuffle-service setup, and block-manager warm-up that no later run pays,
    # and min-of-2 without a warm-up let those cold costs land entirely on
    # whichever flavor ran first (r2 artifact: span-free 37.0s SLOWER than the
    # strictly-heavier with-span 21.7s). Then min-of-3 with the two flavors
    # INTERLEAVED, so any hypervisor throttling window hits both flavors alike.
    _cooled(_full(cfg))  # untimed warm-up (with span: superset of both flavors)
    span_extra.clear()  # drop the warm-up's cold span sample
    # min-of-4 with a longer cool-down than the light legs: the hypervisor's
    # burst quota drains over a sustained ~25s pipeline run and a 15s idle gap
    # does not reliably refill it — r3 measured the same warm flavor swinging
    # 21s -> 52s between consecutive runs. With ~30% of runs landing in a
    # throttled window, min-of-3 still had a few-percent chance of every run of
    # one flavor being throttled (exactly the r2 artifact's failure mode);
    # min-of-4 with longer gaps drives that to noise. Per-run lists ride along
    # in the output so the variance is visible in the artifact itself.
    nospan_cfg = replace(cfg, span_pass=False)
    t_nospan, t_span = [], []
    for i in range(4):
        # ALTERNATE which flavor runs first: within an iteration the second leg
        # always starts with the burst quota drained by the first, so a fixed
        # order taxes one flavor systematically (measured r3: fixed
        # nospan-then-span order reported the span delta at 2.9s when the
        # isolated span stage costs 1.2s). Alternation puts each flavor in each
        # slot twice; the median paired delta then cancels the slot bias.
        legs = [(nospan_cfg, t_nospan), (cfg, t_span)]
        if i % 2:
            legs.reverse()
        for c, acc in legs:
            time.sleep(10)  # on top of the standard cool-down inside _cooled
            t, _n = _cooled(_full(c))
            acc.append(t)
    times["full_pipeline"] = min(t_nospan)
    times["full_pipeline_with_span"] = min(t_span)
    times["_runs"] = {
        "signatures": [round(x, 2) for x in sig_runs],
        "lsh_candidates": [round(x, 2) for x in cand_runs],
        "full_pipeline": [round(x, 2) for x in t_nospan],
        "full_pipeline_with_span": [round(x, 2) for x in t_span],
    }
    # Span overhead is reported DIRECT-ONLY (span_stage_*): run_pipeline times
    # the span branch's extra work (het discovery job, verify, second CC when
    # spans exist) inside every timed with-span run, so its noise scales with
    # the ~1s segment being measured. The r2/r3 paired-delta corroboration —
    # median of per-iteration (span - nospan) full-run deltas — estimated the
    # same ~1s quantity as the difference of two ~15s runs, each carrying
    # multi-second hypervisor-throttle noise; at 4 pairs it does not converge
    # (r3 driver artifact: paired median said 17% beside a 9.2% direct
    # measurement of the same quantity). The raw per-flavor run lists stay in
    # the artifact (_runs) so anyone can recompute a paired estimate; we no
    # longer derive a headline number from it. The direct measurement excludes
    # only the winnow fingerprints computed inside the signature UDF
    # (microbenched at ~0.09s/2000 docs/core — ~0.13s here, documented in
    # BASELINE.md).
    def _median(xs: list[float]) -> float:
        if not xs:
            return float("nan")
        s = sorted(xs)
        m = len(s) // 2
        return s[m] if len(s) % 2 else (s[m - 1] + s[m]) / 2

    med_nospan = _median(t_nospan)
    times["_span_overhead"] = {}
    if span_extra:  # absent (not NaN — invalid strict JSON) if no run set it
        # min mirrors the headline min-of-4 convention (the unthrottled-machine
        # number); median is the typical-run number. Both denominators use the
        # matching nospan statistic.
        med_stage = _median(span_extra)
        min_stage = min(span_extra)
        times["_span_overhead"].update(
            {
                "span_stage_sec_runs": [round(x, 2) for x in span_extra],
                "span_stage_median_sec": round(med_stage, 2),
                "span_stage_median_pct": round(100.0 * med_stage / med_nospan, 1),
                "span_stage_min_sec": round(min_stage, 2),
                "span_stage_min_pct": round(100.0 * min_stage / min(t_nospan), 1),
            }
        )

    # html-extraction flavor: the byte-identity stripper (functions/html_strip.py,
    # reference DataSetUtil.strip_tags) in the timed path — pages arrive as html,
    # text is re-extracted before normalization (north-rule input shape)
    html_pages = pages.select(
        "url",
        F.concat(
            F.lit("<html><head><title>d</title></head><body><p>"),
            F.col("text"),
            F.lit("</p><br/></body></html>"),
        ).alias("html"),
        F.lit("").alias("text"),
    ).cache()
    html_pages.count()

    def _html():
        result = run_pipeline(
            spark, html_pages, replace(cfg, span_pass=False), use_html=True
        )
        paths.add(result.path)
        n = result.clusters.count()
        result.release()
        return n

    # same extended gaps as the main flavors: this leg runs LAST, after
    # minutes of sustained load, i.e. with the burst quota at its emptiest
    html_runs = []
    for _ in range(3):
        time.sleep(10)
        t, _n = _cooled(_html)
        html_runs.append(t)
    times["full_pipeline_html"] = min(html_runs)
    times["_runs"]["full_pipeline_html"] = [round(x, 2) for x in html_runs]
    html_pages.unpersist()
    times["_n_docs"] = n_docs
    times["_paths"] = sorted(paths)

    pages.unpersist()
    return times


def bench_incremental(
    spark, sf_dir: str, replicate: int = 5, n_passes: int = 3
) -> dict[str, float]:
    """Timed coverage for the two incremental paths (round-5 addition: both had
    oracle rows but no bench leg, so a regression in the touched-bucket kernel
    or store compaction was invisible to BENCH):

    - ``delta_dedup``: seed the band/signature store from 3/4 of the corpus
      (untimed — a standing index in production), then time ONE increment (the
      remaining 1/4) deduped against it: the per-increment-bounded match
      kernel, accept arms, and store append.
    - ``streaming_incremental``: time the full 4-micro-batch drive of
      ``IncrementalDedup`` over precomputed signatures (compact_every=3 puts a
      store compaction inside the timed window), plus the final match count.

    Min-of-3 with the two legs INTERLEAVED per pass (same slot-bias treatment
    as the pipeline flavors) and per-run lists in the artifact. Fresh work dir
    per run — the store paths are stateful, so re-running against a used store
    would grow it and time a different job."""
    import shutil
    import tempfile

    from cqaduplicatefind_spark.functions.signatures import with_signatures
    from cqaduplicatefind_spark.plans.delta import delta_dedup, seed_index
    from cqaduplicatefind_spark.streaming.incremental import (
        SIG_COLS,
        IncrementalDedup,
    )

    cfg = DedupConfig(shingle_k=3, jaccard_threshold=0.7)
    # replicate=5 (not the pipeline's 20): a mid-size corpus keeps these legs'
    # wall-clock inside the bench budget while still putting thousands of docs
    # through the store kernels; the harness-smoke test calls with replicate=1
    pages = make_pages(spark, sf_dir, replicate=replicate).cache()
    pages.count()
    is_inc = F.pmod(F.xxhash64("url"), F.lit(4)) == 0
    corpus = pages.where(~is_inc)
    increment = pages.where(is_inc)
    sigs = (
        with_signatures(pages.withColumn("norm_text", F.col("text")), cfg,
                        "norm_text")
        .select(*SIG_COLS)
        .withColumn("_b", F.pmod(F.xxhash64("url"), F.lit(4)))
        .cache()
    )
    sigs.count()

    runs: dict[str, list[float]] = {"delta_dedup": [], "streaming_incremental": []}
    # the matcher path each increment / micro-batch took ("driver" below
    # config.DRIVER_MAX_ROWS band rows, else "spark"), one entry per run
    paths: dict[str, list] = {"delta_dedup": [], "streaming_incremental": []}
    for _ in range(n_passes):
        work = tempfile.mkdtemp(prefix="bench_delta_")
        try:
            seed_index(spark, corpus, cfg, work)  # untimed: standing index

            def _delta():
                res = delta_dedup(spark, increment, cfg, work, batch_id=1)
                paths["delta_dedup"].append(res.path)
                n = res.edges.count()
                res.release()
                return n

            t, _n = _cooled(_delta)
            runs["delta_dedup"].append(t)
        finally:
            shutil.rmtree(work, ignore_errors=True)

        work = tempfile.mkdtemp(prefix="bench_stream_")
        try:

            def _stream():
                dedup = IncrementalDedup(
                    spark,
                    cfg,
                    os.path.join(work, "bands"),
                    os.path.join(work, "sigs"),
                    os.path.join(work, "matches"),
                    compact_every=3,
                )
                for b in range(4):
                    dedup.process_batch(
                        sigs.where(F.col("_b") == b).select(*SIG_COLS), b
                    )
                paths["streaming_incremental"].append(dedup.batch_paths)
                return dedup.matches().count()

            t, _n = _cooled(_stream)
            runs["streaming_incremental"].append(t)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    pages.unpersist()
    sigs.unpersist()
    out: dict[str, float] = {name: min(rs) for name, rs in runs.items()}
    out["_runs"] = {name: [round(x, 2) for x in rs] for name, rs in runs.items()}
    out["_paths"] = paths
    return out


def bench_queries(spark, sf_dir: str) -> dict[str, float]:
    import __spark_entry__ as entry_mod

    names = [
        "groupby_agg_tpch_q1",
        "multiway_join_agg",
        "window_topk_per_group",
        "ngram_jaccard_pairs",
        "minhash_md5_signatures",
        "ann_cosine_topk",
        "exact_dedup_hash_groups",
        "time_window_agg",
        "lang_id_histogram",
        "latest_event_per_user",
        "retrieval_metrics_p_at_k",
        "unigram_logprob_quality",
        "c4_clean_docs",
        "bm25_topk_retrieval",
    ]
    qs = entry_mod.queries()
    runs: dict[str, list[float]] = {n: [] for n in names}
    # min-of-3 with the PASSES interleaved across the whole singleton list
    # (pass 1 times every query once, then pass 2, then pass 3) — the same
    # treatment that cured the pipeline flavors' slot bias in r3. Back-to-back
    # min-of-2 per query let a single hypervisor throttle window swallow both
    # runs of whichever query it landed on (r3 driver artifact:
    # retrieval_metrics_p_at_k 8.42s vs 1.74s same-code builder run);
    # interleaving spreads each query's three samples ~minutes apart, so one
    # window can tax at most one sample and the min recovers the warm number.
    # Pass 1 additionally absorbs each query's one-time codegen/FS-cache cost.
    for pass_i in range(3):
        for name in names:
            # short idle gap per timing keeps the burst budget topped up
            time.sleep(2 if pass_i else min(COOLDOWN_SEC, 5))
            t, _ = _timed(lambda: qs[name](spark, sf_dir).count())
            runs[name].append(t)
    out = {name: min(rs) for name, rs in runs.items()}
    out["_runs"] = {name: [round(x, 2) for x in rs] for name, rs in runs.items()}
    return out


def _warmup(spark, cpus: int) -> None:
    from cqaduplicatefind_spark.functions.signatures import with_signatures

    cfg = DedupConfig(shingle_k=3)
    df = (
        spark.range(cpus * 64)
        .select(
            F.col("id").cast("string").alias("url"),
            F.lit("warm up the python worker pool with some tokens").alias("norm_text"),
        )
        .repartition(cpus)
    )
    with_signatures(df, cfg).select(F.sum("n_shingles")).collect()
    spark.range(10_000_000).groupBy(F.col("id") % 101).count().count()


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = build_session(
        app_name="cqadf-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        # 6g, NOT the machine's worth of heap: this host's page management makes
        # huge heaps actively slow (A/B measured r3: 48g heap ran the pipeline
        # warm-up 78.9s and nospan legs ~24-31s; the identical run with 6g did
        # 29.7s and 18.6s — page-fault storms on first-touch of a 48g region).
        # The scaling bench independently measured and documented the same
        # effect. 6g fits the sf0.1 working set with headroom.
        extra={"spark.ui.enabled": "false", "spark.driver.memory": "6g"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    # warm up the JVM (codegen) and the Python worker pool (numpy/pandas imports in
    # every worker) so timings reflect steady-state throughput, not interpreter boot
    _warmup(spark, int(cpus))

    # singleton queries run FIRST, on a freshly-warmed session with the burst
    # quota full — the r3 driver artifact ran them after ~4 minutes of
    # sustained pipeline load and measured the drained quota, not the code
    # (8.42s retrieval_metrics_p_at_k vs 1.74s same-code with fresh quota)
    queries: dict[str, float] = {}
    singles = bench_queries(spark, sf_dir)
    query_runs = singles.pop("_runs", {})
    # release every singleton's persisted frames/broadcasts (the _fresh_handles
    # registry keeps each query's LAST invocation pinned in executor storage)
    # so the pipeline legs time against a clean storage state — with singletons
    # first, the old order's implicit cleanup no longer happens
    import __spark_entry__ as entry_mod

    for key in list(entry_mod._HANDLE_REGISTRY):
        entry_mod._fresh_handles(key)
    pipe = bench_pipeline(spark, sf_dir)
    n_docs = int(pipe.pop("_n_docs"))
    pipeline_runs = pipe.pop("_runs", {})
    span_overhead = pipe.pop("_span_overhead", {})
    pipeline_paths = pipe.pop("_paths", [])
    inc = bench_incremental(spark, sf_dir)
    incremental_runs = inc.pop("_runs", {})
    incremental_paths = inc.pop("_paths", {})
    queries.update({k: round(v, 3) for k, v in pipe.items()})
    queries.update({k: round(v, 3) for k, v in singles.items()})
    queries.update({k: round(v, 3) for k, v in inc.items()})

    total = round(sum(queries.values()), 3)
    docs_per_sec = round(n_docs / pipe["full_pipeline"], 1)
    print(
        json.dumps(
            {
                "metric": "dedup_pipeline+headline_queries",
                "value": total,
                "unit": "sec",
                "queries": queries,
                "sf": sf_dir,
                "n_docs": n_docs,
                "docs_per_sec_full_pipeline": docs_per_sec,
                "cpus": int(cpus),
                # per-run lists for the interleaved pipeline legs: makes the
                # variance (hypervisor burst throttling) visible in the
                # artifact itself instead of only in the min
                "pipeline_runs": pipeline_runs,
                # per-run lists for the interleaved singleton queries: one
                # throttled sample shows up as an outlier next to two warm
                # ones instead of silently inflating the min
                "query_runs": query_runs,
                # per-run lists for the delta/streaming incremental legs
                "incremental_runs": incremental_runs,
                # which matcher path each of those increments / micro-batches
                # took ("driver" or "spark")
                "incremental_paths": incremental_paths,
                # ... and which path the pipeline legs' runs took
                "pipeline_paths": pipeline_paths,
                # drift-cancelled span-pass cost (see bench_pipeline): the
                # honest flavor comparison, robust where min(span)-min(nospan)
                # is not
                "span_overhead": span_overhead,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
