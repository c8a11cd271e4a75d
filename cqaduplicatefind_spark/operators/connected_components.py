"""Connected components over the candidate-edge DataFrame, on one of two paths
that give identical assignments:

- **Driver path** (edge sets of at most ``config.DRIVER_MAX_ROWS`` rows, read
  when called): one bounded collect job brings the canonical edges to the
  driver as Arrow, a union-find with min-id roots labels them in
  Python, and the assignment comes back as an Arrow-built frame. Verification
  can leave a small accepted edge set (the ``batch_lowdup`` benchmark workload:
  28 pairs over 200 docs), where the star loop below is pure fixed cost: a
  dozen job barriers for a few kilobytes of data.
- **Star loop** (larger graphs): iterative large-star/small-star (Kiveris et
  al., "Connected Components in MapReduce and Beyond", SoCC'14).

The reference encodes duplicate groups only as per-question ``dups`` lists
(``/root/reference/src/JsonToCsvConverter.py:17-22``); cluster resolution is the new
capability the north_rule mandates. Canonical cluster id = min node id in the
component (FIXTURES.md).

Spark-first design notes for the star loop:

- No ``collect_list``: star operations are expressed as groupBy-min + join, so a
  giant component never materializes a giant array in one task.
- The driver loop iterates O(log n) rounds; each round ``localCheckpoint``s the edge
  set to cut lineage (otherwise the plan doubles every round and kills the driver —
  the standard Spark iterative-algorithm trap).
- Convergence test is a direct fixed-point check (star forest: no edge target is
  also a source — one semi-join per round), so the loop never pays a full
  confirmation round after the edge set stabilizes.
- Deterministic under any partitioning/parallelism: every transform is min/union
  based, so local[8] and local[32] produce identical assignments (BASELINE.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StructField, StructType

from cqaduplicatefind_spark import config
from cqaduplicatefind_spark.session import arrow_frame

# star-loop round cap: the loop runs O(log n) rounds (module docstring), so
# reaching it means the loop is not converging
MAX_ITERATIONS = 50


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u: connect every strictly-larger neighbor to min(N(u) ∪ {u})."""
    sym = edges.select(F.col("id_a").alias("u"), F.col("id_b").alias("v")).unionAll(
        edges.select(F.col("id_b").alias("u"), F.col("id_a").alias("v"))
    )
    mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
    mins = mins.select("u", F.least("mn", "u").alias("m"))
    return (
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("id_a"), F.col("m").alias("id_b"))
        .where(F.col("id_a") != F.col("id_b"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges high->low; for each node u: connect u and all smaller neighbors
    to the smallest of them."""
    down = edges.select(
        F.greatest("id_a", "id_b").alias("u"), F.least("id_a", "id_b").alias("v")
    )
    mins = down.groupBy("u").agg(F.min("v").alias("m"))
    out = (
        down.join(mins, "u")
        .select(F.col("v").alias("id_a"), F.col("m").alias("id_b"))
        .unionAll(mins.select(F.col("u").alias("id_a"), F.col("m").alias("id_b")))
        .where(F.col("id_a") != F.col("id_b"))
        .distinct()
    )
    return out


def _is_star_forest(edges: DataFrame) -> bool:
    """True iff the edge set is in converged assignment form (member ->
    component-min stars) — exactly the large-star/small-star fixed point:

    1. every edge points larger -> smaller (id_a > id_b),
    2. every source has exactly one outgoing edge (it's a function), and
    3. no target is also a source (stars, not chains).

    Together these force each component to be a star whose root is its minimum
    (the root is smaller than every member by 1+3), and such a star is mapped
    to itself by both operators. All three checks fold into ONE job (a
    per-node in/out-degree aggregation over the symmetrized projection + a
    scalar count): the probe runs once per round, and job-launch latency is
    pure constant driver overhead that dilutes multi-core scaling — the
    previous 3-probe formulation (narrow filter + groupBy + semi-join) cost
    3 jobs per round. Still far cheaper than the classical convergence
    protocol of running one extra full round (~6 exchanges) and comparing
    checksums."""
    stats = (
        edges.select(
            F.col("id_a").alias("n"),
            F.lit(1).alias("out_deg"),
            F.lit(0).alias("in_deg"),
            (F.col("id_a") < F.col("id_b")).cast("int").alias("misoriented"),
        )
        .unionAll(
            edges.select(F.col("id_b"), F.lit(0), F.lit(1), F.lit(0))
        )
        .groupBy("n")
        .agg(
            F.sum("out_deg").alias("out_deg"),
            F.sum("in_deg").alias("in_deg"),
            F.max("misoriented").alias("misoriented"),
        )
    )
    violations = stats.where(
        (F.col("misoriented") == 1)
        | (F.col("out_deg") > 1)
        | ((F.col("out_deg") > 0) & (F.col("in_deg") > 0))
    )
    return violations.count() == 0


def _persistent_rdd_ids(spark) -> set[int]:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(i) for i in jmap.keySet().toArray()}


def _unpersist_rdd_ids(spark, ids) -> None:
    """Free block-manager storage for the given RDD ids (non-blocking). Used to
    drop superseded localCheckpoint rounds — without this, every CC round's
    checkpoint blocks stay pinned until a driver full GC, and a long session
    (streaming incremental dedup, repeated pipeline runs) degrades as the heap
    balloons into kernel page-fault storms."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for i in ids:
        rdd = jmap.get(i)
        if rdd is not None:
            rdd.unpersist(False)


class CheckpointHandle:
    """``unpersist()``-compatible handle that releases localCheckpoint RDD
    blocks by id. Rides ``PipelineResult.persisted`` next to cached frames —
    ``release()`` duck-types on ``unpersist()``. Needed because
    ``DataFrame.unpersist()`` does NOT free localCheckpoint blocks (it only
    uncaches cacheManager entries); after the handle fires, frames derived
    from the checkpoint can no longer be recomputed — callers release only
    when done consuming."""

    def __init__(self, spark, rdd_ids) -> None:
        self._spark = spark
        self._ids = set(rdd_ids)

    def unpersist(self) -> None:
        _unpersist_rdd_ids(self._spark, self._ids)
        self._ids = set()


def local_checkpoint(df: DataFrame) -> tuple[DataFrame, CheckpointHandle]:
    """``df.localCheckpoint()`` (eager) and the handle that frees its blocks:
    the RDD ids the checkpoint added to the session's persistent-RDD map."""
    spark = df.sparkSession
    before = _persistent_rdd_ids(spark)
    out = df.localCheckpoint()
    return out, CheckpointHandle(spark, _persistent_rdd_ids(spark) - before)


def _min_root_components(id_a: list, id_b: list) -> tuple[list, list]:
    """Union-find over edge lists whose union keeps the smaller root, so every
    root is its component's minimum id. Returns (ids, cluster_ids)."""
    parent: dict = {}

    def find(x):
        root = x
        while (up := parent.setdefault(root, root)) != root:
            root = up
        while x != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(id_a, id_b):
        ra, rb = find(a), find(b)
        if ra < rb:
            parent[rb] = ra
        elif rb < ra:
            parent[ra] = rb
    ids = list(parent)
    return ids, [find(x) for x in ids]


def connected_components(
    edges: DataFrame,
    assume_unconverged: bool = False,
    persisted: list | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """edges(id_a, id_b) -> assignments(id, cluster_id) for every node that appears
    in an edge. cluster_id = min node id in the component. Callers attach singletons
    with a left join + coalesce (see ``plans.pipeline``).

    ``config.DRIVER_MAX_ROWS``, read when called, bounds the driver path: a
    canonical edge set (oriented, self-loops dropped, duplicates NOT yet
    dropped) of at most that many rows is collected in one ``limit``-bounded
    job and union-found in driver Python; the assignment comes back as an Arrow-built frame, with no checkpoint and
    nothing persisted. A larger set pays that one bounded probe job (at most
    ``DRIVER_MAX_ROWS + 1`` rows reach the driver) and then runs the star
    loop unchanged, which reads ``edges`` a second time: persist an
    ``edges`` plan that is costly to re-run. A bound of 0 or below forces
    the star loop. Both paths label by min id, so ids must order the same in
    Python and Spark: strings (UTF-8 byte order is code-point order) and
    integers do. On the driver path ``stats`` (a dict) receives ``nodes``,
    the assignment's row count, which callers use instead of a count job;
    the star loop leaves it unset.

    The star loop's knobs:

    ``assume_unconverged=True`` runs the first large/small-star round before the
    first fixed-point probe. Tradeoff, not a free win: a raw pairing graph with
    any duplicate family of 3+ docs fails the probe, so probing first adds one
    full-edge-set shuffle of driver-sequential latency per run — but a corpus
    whose accepted edges are ALL disjoint 2-doc pairs (or empty) is already a
    star forest after canonicalization, and skipping the probe costs it one
    wasted star round. Web dedup corpora are family-heavy, so the flagship
    callers opt in; callers re-clustering prior assignments keep the default
    probe-first order and converge in zero rounds. The loop takes the edges
    as they come, with no dedup shuffle: an input with duplicate rows is not a
    star forest (a duplicated edge gives its source two outgoing edges), so
    it runs the star rounds, and each round's ``distinct`` drops them.

    The final round's checkpoint stays alive (the returned plan reads from it);
    every earlier round is unpersisted as soon as it is superseded. Pass
    ``persisted`` (a list) to receive a ``CheckpointHandle`` for that final
    checkpoint — ``run_pipeline`` hands it to ``PipelineResult.persisted`` so
    ``release()`` frees it; without the handle the blocks stay pinned for the
    session lifetime (the round-4 runner-leak finding)."""
    spark = edges.sparkSession
    cur = (
        # canonical orientation is larger -> smaller (id_a > id_b): that is the
        # converged star-forest form, so an input that is ALREADY an assignment
        # table (member -> component-min, e.g. re-clustering prior assignments
        # plus a few new edges) passes _is_star_forest immediately and runs
        # zero rounds. least-first orientation would force one full round on
        # every input because check 1 (id_a > id_b) could never hold.
        edges.select(
            F.greatest("id_a", "id_b").alias("id_a"),
            F.least("id_a", "id_b").alias("id_b"),
        )
        .where(F.col("id_a") != F.col("id_b"))
    )
    bound = config.DRIVER_MAX_ROWS
    if bound > 0:
        # limit + toArrow is ONE job (a plain collect of a limit scans the
        # partitions in escalating waves); duplicates are harmless to
        # union-find, so the bound needs no dedup shuffle first
        table = cur.limit(bound + 1).toArrow()
        if table.num_rows <= bound:
            ids, labels = _min_root_components(
                table.column("id_a").to_pylist(), table.column("id_b").to_pylist()
            )
            if stats is not None:
                stats["nodes"] = len(ids)
            id_type = cur.schema["id_a"].dataType
            schema = StructType(
                [StructField("id", id_type), StructField("cluster_id", id_type)]
            )
            return arrow_frame(spark, schema, {"id": ids, "cluster_id": labels})

    cur, live = local_checkpoint(cur)
    # the star-forest test detects the fixed point directly, so an
    # already-converged input (e.g. re-clustering assignment edges plus a few
    # new span edges) runs zero rounds, and convergence costs one semi-join
    # instead of one confirmation round
    rounds = 0
    first_probe_skipped = assume_unconverged
    while first_probe_skipped or not _is_star_forest(cur):
        first_probe_skipped = False
        if rounds >= MAX_ITERATIONS:
            raise RuntimeError(
                f"connected_components did not converge in {MAX_ITERATIONS} rounds"
            )
        superseded = live
        cur, live = local_checkpoint(_small_star(_large_star(cur)))
        superseded.unpersist()
        rounds += 1

    if persisted is not None:
        persisted.append(live)
    # at convergence every edge is (node, component-min)
    assign = cur.select(F.col("id_a").alias("id"), F.col("id_b").alias("cluster_id"))
    roots = cur.select(F.col("id_b").alias("id"), F.col("id_b").alias("cluster_id"))
    return assign.unionByName(roots).groupBy("id").agg(
        F.min("cluster_id").alias("cluster_id")
    )


def attach_singletons(all_ids: DataFrame, assignments: DataFrame) -> DataFrame:
    """Every ``url`` gets a cluster: components keep their min-id label,
    singletons cluster with themselves (FIXTURES.md gold_clusters semantics)."""
    ids = all_ids.select(F.col("url").alias("id"))
    return ids.join(assignments, "id", "left").select(
        F.col("id").alias("url"),
        F.coalesce("cluster_id", "id").alias("cluster_id"),
    )
