"""Physical-plan quality gates: the properties that matter at 100 TB must be
visible in the plan, not assumed — filter pushdown to the parquet scan, column
pruning, broadcast joins for small dims, map-side partial aggregation, and a
shuffle-free signature stage (SURVEY §4)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def plan_of(df, mode: str = "formatted") -> str:
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def queries():
    import __spark_entry__ as entry

    return entry.queries()


def test_filter_pushed_to_parquet_scan(spark, queries):
    plan = plan_of(queries["filter_predicate"](spark, SF))
    assert "PushedFilters" in plan
    # both predicates reach the scan (Parquet row-group + page-level skipping)
    assert "EqualTo(l_returnflag,R)" in plan.replace(" ", "")
    assert "GreaterThan(l_quantity,30" in plan.replace(" ", "")


def test_projection_pruned_at_scan(spark, queries):
    plan = plan_of(queries["projection_pushdown"](spark, SF))
    # ReadSchema carries only the three needed columns, not the 16-column table
    read = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read, plan
    schema_line = read[0]
    for col in ("l_orderkey", "l_partkey", "l_extendedprice"):
        assert col in schema_line
    for dropped in ("l_comment", "l_shipdate", "l_quantity"):
        assert dropped not in schema_line


def test_small_dim_join_broadcasts(spark, queries):
    plan = plan_of(queries["broadcast_dim_join"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_agg_has_mapside_partial(spark, queries):
    plan = plan_of(queries["groupby_agg_tpch_q1"](spark, SF))
    # Catalyst plans HashAggregate(partial) -> Exchange -> HashAggregate(final):
    # map-side combine means the shuffle carries one row per group per task,
    # not one per input row
    assert plan.count("HashAggregate") >= 2
    # partial_sum specifically: this query has exactly one aggregate, so the
    # generic `"partial" in plan` fallback could only ever match this same
    # node — require the precise map-side form instead
    assert "partial_sum" in plan


def test_signature_stage_is_shuffle_free(spark, cfg):
    """normalize+signature is a narrow map: after the one input repartition the
    plan must contain NO other Exchange — at 10^12 docs an accidental shuffle
    of raw text dominates everything."""
    from cqaduplicatefind_spark.plans.pipeline import signature_stage

    pages = spark.createDataFrame(
        [(f"u{i}", f"some text tokens here number {i}") for i in range(100)],
        "url string, text string",
    )
    sigs = signature_stage(pages, cfg)
    plan = plan_of(sigs, "simple")
    assert plan.count("Exchange") <= 1, plan
    # signatures are computed by one Arrow-batched python stage, not per-row
    # UDFs. (The old third disjunct `"EvalPython" in plan` also matched
    # BatchEvalPython — the exact per-row operator this test exists to ban.)
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan, plan
    assert "BatchEvalPython" not in plan, plan


def _python_evals(df) -> int:
    return df._jdf.queryExecution().executedPlan().toString().count(
        "ArrowEvalPython"
    )


@pytest.mark.parametrize("use_html", [False, True])
@pytest.mark.parametrize("span_pass", [False, True])
def test_sign_stage_is_one_python_eval(spark, monkeypatch, use_html, span_pass):
    """Strip, normalize and sign run in one Python eval: the executed plan of
    run_pipeline's sign stage has exactly one ArrowEvalPython node, so each
    document crosses the Arrow boundary once (and norm_text never returns
    to the JVM only to be shipped out again)."""
    from cqaduplicatefind_spark.config import DedupConfig
    from cqaduplicatefind_spark.plans import pipeline

    evals: list[int] = []
    real = pipeline.signature_stage

    def spy(*a, **kw):
        df = real(*a, **kw)
        evals.append(_python_evals(df))
        return df

    monkeypatch.setattr(pipeline, "signature_stage", spy)
    pages = spark.createDataFrame(
        [(f"u{i}", f"<p>some text tokens {i}</p>".encode(),
          f"some text tokens {i}") for i in range(20)],
        "url string, html binary, text string",
    )
    cfg = DedupConfig(shingle_k=3, span_pass=span_pass, shuffle_partitions=4,
                      signature_partitions=4)
    pipeline.run_pipeline(spark, pages, cfg, use_html=use_html).release()
    assert evals == [1]


def test_signature_frame_is_one_python_eval(spark, cfg):
    from cqaduplicatefind_spark.plans.delta import signature_frame

    pages = spark.createDataFrame(
        [(f"u{i}", f"some text tokens {i}") for i in range(20)],
        "url string, text string",
    )
    assert _python_evals(signature_frame(pages, cfg)) == 1


def test_candidate_stage_shuffle_budget(spark, cfg):
    """The candidate stage shuffles data on exactly THREE key families — LSH band
    bucket (band, bh), SimHash piece bucket (piece, pv), and the pair-dedup key
    (id_a, id_b) — independent of data size (the documented budget in
    plans/pipeline.py). Identical exchange subtrees are reused at runtime (AQE
    shuffle-stage reuse), so the invariant worth guarding is the key-family set:
    a new family = a new accidental shuffle."""
    import re

    from cqaduplicatefind_spark.plans.pipeline import (
        candidate_stage,
        signature_stage,
    )

    pages = spark.createDataFrame(
        [(f"u{i}", f"some text tokens here number {i} more words") for i in range(100)],
        "url string, text string",
    )
    # mirror run_pipeline: signatures are persisted, cutting the UDF chain out of
    # the candidate plan (each branch reads the cache, not a recompute)
    sigs = signature_stage(pages, cfg).persist()
    sigs.count()
    try:
        plan = plan_of(candidate_stage(sigs, cfg), "simple")
        assert "InMemoryTableScan" in plan  # cache actually feeds the plan
        keys = {
            re.sub(r"#\d+L?", "", m)
            for m in re.findall(r"Exchange hashpartitioning\(([^)]*), \d+\)", plan)
        }
        # "url" = the input-split repartition inside the cached signature plan's
        # printed lineage (not re-executed; the cache feeds the stage)
        expected = {"band, bh", "piece, pv", "id_a, id_b", "url"}
        assert keys <= expected, f"unexpected shuffle key families: {keys - expected}"
    finally:
        sigs.unpersist()


def test_substring_removal_plan_shape(spark):
    """Owner discovery must be a map-side-combined hash aggregate over 8-byte
    gram hashes, the rebuild must be the ONLY MapInPandas (untouched docs
    bypass Python via the anti-join pass-through), and no cartesian product
    may appear anywhere."""
    from cqaduplicatefind_spark.operators.span_removal import remove_duplicate_spans

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{j + i % 3}" for j in range(30))) for i in range(50)],
        "doc_id long, text string",
    )
    out = remove_duplicate_spans(docs, 15, "doc_id", "text")
    plan = plan_of(out, "simple")
    assert plan.count("MapInPandas") == 1                   # rebuild only
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the start lists were computed ONCE (eager localCheckpoint) and both
    # union branches read the checkpointed RDD — the gram UDF and the owner
    # aggregate never appear in the consuming plan
    import re

    assert len(re.findall(r"Scan ExistingRDD\[[^\]]*_starts", plan)) == 2
    assert "ArrowEvalPython" not in plan
    # and the rebuild/pass-through joins broadcast the small start lists
    assert "BroadcastHashJoin" in plan


def test_top_ngrams_slim_exchange(spark):
    """The corpus-wide counting exchange must carry (hash, count) — never gram
    text — and the k-th-count threshold must come from a distributed top-k
    (TakeOrderedAndProject), not a global sort."""
    import re

    from cqaduplicatefind_spark.operators.corpus_stats import top_ngrams

    docs = spark.createDataFrame(
        [(i, "the quick brown fox " * 5) for i in range(50)],
        "doc_id long, text string",
    )
    plan = plan_of(top_ngrams(docs, n=2, k=10), "formatted")
    assert "TakeOrderedAndProject" in plan
    # every hash-partitioned exchange keys on the gram hash or count, and the
    # full-corpus count aggregate is map-side combined
    assert "partial_count" in plan
    # the vocab count frame is cached and BOTH consumers (threshold +
    # candidate filter) read the cache — the corpus counting exchange must
    # not appear twice
    assert plan.count("InMemoryTableScan") >= 2
    # find Exchange argument lists; none may hash-partition on raw gram text
    for args in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "gram#" not in args, plan


def test_unigram_lm_head_join_broadcasts(spark):
    """The LM score join's hot-vocabulary head must be a BroadcastHashJoin
    (Zipf-mass tokens never shuffle keyed by token) and the tf frame must be
    cached (the tokenize exchange feeds three consumers). The rare-tail join
    MAY sort-merge — its per-token row count is bounded by the k-th head
    count, so that shuffle is skew-free by construction — but the hot branch
    must never appear under a token-keyed exchange."""
    import re

    from cqaduplicatefind_spark.operators.lm_quality import unigram_logprob

    docs = spark.createDataFrame(
        [(i, ("the quick brown fox jumps " * 3) + f"rare{i}") for i in range(60)],
        "doc_id long, text string",
    )
    handles: list = []
    plan = plan_of(unigram_logprob(docs, persisted=handles), "formatted")
    assert "BroadcastHashJoin" in plan
    assert "InMemoryTableScan" in plan
    # exactly one join may key an exchange on the token column: the rare tail
    # (head rows reach their join via broadcast, never a _tok shuffle)
    tok_exchanges = [
        args
        for args in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
        if "_tok#" in args
    ]
    assert len(set(tok_exchanges)) <= 2, plan  # tail join: two sides max
    for h in handles:
        h.unpersist()


def test_bm25_plan_partial_agg_and_group_limit(spark, queries):
    """BM25's per-(query, doc) sum must combine map-side (one row per group per
    task crosses the shuffle, not one per posting match) and the top-k must run
    as WindowGroupLimit (partial per-task truncation before the qid exchange —
    never a full rank materialization)."""
    plan = plan_of(queries["bm25_topk_retrieval"](spark, SF))
    assert "partial_sum" in plan, plan
    assert "WindowGroupLimit" in plan, plan
    # corpus-stat frames (N/avgdl, avg_idf) ride broadcast, never a shuffle
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_multimodal_rows_are_narrow_maps(spark, queries):
    """The codec rows must be ONE Arrow-batched MapInPandas per row (synthesize
    + encode + decode + hash fused in a single Python pass — payload bytes
    never leave the worker) feeding a map-side-combined hash aggregate; only
    the 8-byte hash may ride the exchange, and no cartesian/NLJ anywhere."""
    for name in (
        "multimodal_phash_groups",
        "multimodal_audio_dedup",
        "multimodal_video_dedup",
    ):
        plan = plan_of(queries[name](spark, SF), "simple")
        assert plan.count("MapInPandas") == 1, name
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert plan.count("HashAggregate") == 2, name  # partial + final
        assert plan.count("Exchange") == 1, name  # only the agg shuffle


def test_ngram_kernel_hashes_grams_before_exchange(spark):
    """Gram text must never ride a shuffle in the n-gram pair kernel (round-5
    fix): every hash-partitioned exchange keys on the 8-byte xxhash64 gram
    column ``gh`` or on doc ids — never a string gram or the token array —
    the DF-cap count is a map-side-combined aggregate (partial_count), and no
    window operator appears (the old cap was Window.partitionBy(gram-text),
    one unsorted full-row exchange)."""
    import re

    from cqaduplicatefind_spark.operators.ngram import ngram_jaccard_pairs

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon " * 2 + f"tail{i}") for i in range(40)],
        "doc_id long, text string",
    )
    handles: list = []
    df = ngram_jaccard_pairs(docs, 3, min_jaccard=0.1, df_cap=50, persisted=handles)
    try:
        plan = plan_of(df, "simple")
        # pin the DF-cap aggregate's shape specifically: a HashAggregate keyed
        # on the 8-byte gram hash alone with a map-side partial_count (the
        # generic `"partial" in plan` form was vacuous — the pair-count agg
        # contributes a partial_count to EVERY plan, so a rewrite of the cap
        # into a non-combinable form could not fail it)
        assert re.search(
            r"HashAggregate\(keys=\[gh#\d+L?\], functions=\[partial_count\(1\)\]",
            plan,
        ), plan
        assert "Window" not in plan, plan
        # the capped gram frame is cached once for its three consumers
        assert "InMemoryTableScan" in plan, plan
        exchanges = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
        assert exchanges, plan
        for args in exchanges:
            # a string gram column would surface as `g#NN`; `gh#NN` is the hash
            assert not re.search(r"(?<![a-zA-Z_])g#\d", args), plan
            assert "text#" not in args, plan
            assert not re.search(r"(?<![a-zA-Z_])t#\d", args), plan
    finally:
        for h in handles:
            h.unpersist()
