"""Evaluation jobs: dup-pair recall/precision vs gold edges, and the reference's
ranked-retrieval metrics (P@k, MAP) as pure DataFrame aggregations.

Reference semantics reproduced exactly:
- hit = candidate id in query's ``dups`` list within ranked top-k
  (``/root/reference/src/BM25DuplicateRetriever.py:85-97``);
- P@k = foundDups/k averaged over queries that have >= 1 gold dup (``:96,102``);
- AP for a query = sum over hit ranks j (1-based) of (hits_so_far / j), normalized by
  |gold dups| — the ``:95`` definition (the true-MAP variant; the reference's
  Doc2Vec path divides by foundDups instead at ``src/DuplicateRetriever.py:58``,
  an internal inconsistency SURVEY.md §2.9 resolves in favor of ``:95``);
- MAP = mean AP over queries with >= 1 gold dup (queries with zero hits contribute
  AP=0 via the ``foundDups>0`` guard at ``:94`` — same value, no branch needed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def pair_recall(predicted: DataFrame, gold: DataFrame) -> DataFrame:
    """Canonical-pair recall/precision. predicted/gold: (id_a/src, id_b/dst).

    Output: one row (n_gold, n_pred, n_hit, recall, precision) — the BASELINE.json
    acceptance metric (dup-pair recall >= 0.99).
    """
    # persist both canonical frames for the three counts: `predicted` is
    # typically clusters_to_pairs (a full bucket-pairing job) and without the
    # cache the hit count re-executes that whole lineage a second time
    p = predicted.select(
        F.least(predicted.columns[0], predicted.columns[1]).alias("a"),
        F.greatest(predicted.columns[0], predicted.columns[1]).alias("b"),
    ).distinct().persist()
    g = gold.select(
        F.least(gold.columns[0], gold.columns[1]).alias("a"),
        F.greatest(gold.columns[0], gold.columns[1]).alias("b"),
    ).distinct().persist()
    try:
        hit = g.join(p, ["a", "b"], "inner")
        n_gold, n_pred, n_hit = g.count(), p.count(), hit.count()
    finally:
        p.unpersist()
        g.unpersist()
    spark = predicted.sparkSession
    return spark.createDataFrame(
        [
            (
                n_gold,
                n_pred,
                n_hit,
                (n_hit / n_gold) if n_gold else 1.0,
                (n_hit / n_pred) if n_pred else 1.0,
            )
        ],
        "n_gold long, n_pred long, n_hit long, recall double, precision double",
    )


def clusters_to_pairs(
    assignments: DataFrame, max_cluster_size: int = 256
) -> DataFrame:
    """(url, cluster_id) -> implied duplicate pairs (transitive closure of the
    assignment), SIZE-GUARDED: clusters up to ``max_cluster_size`` members emit
    the full C(m,2) closure; larger ones (star-edge chains deliberately build huge
    template clusters — at web scale a 10^6-member cluster would otherwise emit
    5*10^11 rows) emit O(m) star pairs to the cluster representative plus salted
    sub-group pairs. Reuses the skew-capped bucket-pairing kernel; the cluster id
    IS the min member url, so star pairs target the representative."""
    from cqaduplicatefind_spark.operators.candidates import bucket_candidates

    return bucket_candidates(
        assignments,
        id_col="url",
        key_cols=("cluster_id",),
        max_group=max_cluster_size,
        salt_cap=2,
    )


def ranked_retrieval_metrics(
    ranked: DataFrame,
    gold_edges: DataFrame,
    k: int = 10,
    symmetric: bool = True,
) -> DataFrame:
    """ranked: (query_id, candidate_id, score) — scored candidates per query.
    gold_edges: (src, dst).

    Output: one row (n_queries, found_at_k, p_at_k, map) over queries that
    have >= 1 gold dup — the reference's evaluation loop
    (src/BM25DuplicateRetriever.py:49-103) as DataFrame aggregations.

    ``symmetric`` controls the query set. The reference iterates only docs
    whose OWN ``dups`` list is non-empty (``queriesWithDuplicates``, :54-56)
    and its ranking check is asymmetric (``candidate in query.dups``, :89 —
    SURVEY.md §1.4); on CQADupStack-style DIRECTED dups lists (the dup
    question lists the original, the original lists nothing) that evaluation
    is ``symmetric=False`` with ``gold_edges`` exploded verbatim (src = the
    listing doc). The default ``symmetric=True`` closes the relation first —
    every endpoint becomes a query — which equals the reference's numbers
    whenever the dumps carry symmetric lists (each dup lists the other) and
    is the natural form when the gold comes from an undirected cluster/edge
    table rather than per-doc lists.
    """
    directed = gold_edges.select(
        F.col("src").alias("query_id"), F.col("dst").alias("gold_id")
    )
    sym = (
        directed.unionByName(
            gold_edges.select(
                F.col("dst").alias("query_id"), F.col("src").alias("gold_id")
            )
        ).distinct()
        if symmetric
        else directed.distinct()
    )

    n_dups = sym.groupBy("query_id").agg(F.count("*").alias("n_gold"))

    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("candidate_id")  # stable tie-break
    )
    topk = (
        ranked.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )
    hits = topk.join(
        sym,
        (topk.query_id == sym.query_id) & (topk.candidate_id == sym.gold_id),
        "left_semi",
    )
    # AP numerator: at each hit rank j, hits_so_far(j)/j
    hw = Window.partitionBy("query_id").orderBy("rank")
    per_hit = hits.withColumn("hits_so_far", F.row_number().over(hw)).withColumn(
        "ap_term", F.col("hits_so_far").cast("double") / F.col("rank").cast("double")
    )
    per_query = (
        per_hit.groupBy("query_id")
        .agg(F.count("*").alias("found"), F.sum("ap_term").alias("ap_sum"))
    )
    # every query with >= 1 gold dup counts, found or not (reference denominator)
    stats = (
        n_dups.join(per_query, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("found", F.lit(0)).alias("found"),
            (F.coalesce("ap_sum", F.lit(0.0)) / F.col("n_gold")).alias("ap"),
        )
    )
    return stats.agg(
        F.count("*").alias("n_queries"),
        F.sum("found").alias("found_at_k"),
        F.avg(F.col("found").cast("double") / F.lit(float(k))).alias("p_at_k"),
        F.avg("ap").alias("map"),
    )
