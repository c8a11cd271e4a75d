"""SparkSession construction with scale-appropriate defaults.

Centralizes the tuning the north_rule requires to be explicit: shuffle partition
counts, AQE (runtime coalescing + skew-join splitting), and Arrow batching for the
pandas-UDF stages. In production these settings ride along spark-submit; tests and
bench use this helper so every run is reproducible from code.

Small plans run non-adaptive (``small_plans``). Under AQE every query stage is
its own Spark job, and each job pays a fixed scheduling cost (~0.1 s on a
4-vCPU host) whatever its input: a 100-doc micro-batch ran 37 jobs per
trigger with AQE and about 12 without. So ``IncrementalDedup.process_batch``
and ``run_pipeline`` turn AQE off for their duration when their band-row
count is at most ``config.DRIVER_MAX_ROWS`` — the bound below which the
engine already finishes work on the driver. The count that sizes the scope
plans non-adaptive at any size (``non_adaptive_count``): a global count has
nothing to adapt. It counts a persisted frame, and the cache build it
triggers keeps the plan ``persist()`` gave it, under the caller's setting.
Everything above the bound keeps the AQE settings below
(runtime join upgrades, size-based coalescing, skew splitting). SQL conf is
session-global: for the duration of such a call, other queries on the same
session (other threads included) also plan non-adaptive.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, _parse_datatype_string

from cqaduplicatefind_spark import config

_AQE = "spark.sql.adaptive.enabled"


def build_session(
    app_name: str = "cqaduplicatefind-spark",
    master: str | None = None,
    shuffle_partitions: int = 32,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    b = SparkSession.builder.appName(app_name)
    if master:
        b = b.master(master)
    confs = {
        # explicit shuffle width (north_rule: partitioning handled explicitly);
        # AQE coalesces down at runtime when partitions are small
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        # SIZE-driven coalescing (r6): with the default parallelismFirst=true
        # AQE refuses to coalesce below defaultParallelism, so every tiny
        # shuffle in the many-small-jobs paths (incremental store kernels, CC
        # fixed-point probes, singleton queries) still scheduled 32 reduce
        # tasks for kilobytes of data — pure task-launch overhead. Size-first
        # coalescing collapses those to 1-2 tasks while big stages still get
        # bytes/advisory tasks; 4m (not the 64m default) keeps mid-size
        # CPU-bound stages (verify joins at sf0.1, tens of MB compressed) at
        # healthy parallelism — coalescing can only merge DOWN from
        # shuffle_partitions, so large stages are unchanged. Scale-adaptive by
        # construction: partition count follows data volume.
        "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4m",
        # hot LSH bands produce skewed shuffle blocks; let AQE split them too
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # runtime join-strategy upgrades (r6, guide §3.1): the static planner
        # sees unmaterialized caches/store scans and estimates them large, so
        # the verify-side joins (candidate pairs x signature payloads) planned
        # sort-merge even when the runtime side is a few MB. AQE re-decides
        # per query stage from EXACT shuffle sizes: <=24m builds a broadcast
        # hash join (skips the sort and the probe-side exchange network read;
        # kept below the verify-join payload sizes — building a 40-80MB hash
        # relation single-threaded measurably taxed the pipeline legs in the
        # 64m A/B), and partitions <=64m may build local shuffled-hash joins
        # (skips the sort, parallel build). Both are size-gated at runtime,
        # so a 100TB run with multi-GB stages keeps sort-merge automatically —
        # nothing here is tuned to the local corpus size. The two gates ARE
        # tuned to memory: they were sized on a 6 GB local-mode heap that the
        # driver and the executors share (bench.py at sf0.1). A broadcast
        # relation is built on the driver and held once per executor, several
        # times its shuffle size once decoded, and a shuffled-hash build holds
        # a whole reduce partition per task. On smaller heaps lower both in
        # proportion through ``extra=`` ("-1" and "0" turn them off).
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "24m",
        "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": "64m",
        # local-FS writes: commit algorithm v2 renames task output once
        # instead of twice (job commit loops over per-task dirs in v1) — the
        # incremental stores commit 3 writes per micro-batch. Task output is
        # visible before the job commits, so a write killed mid-job leaves
        # part files without a _SUCCESS marker; the part store skips such
        # dirs (streaming/store.py)
        "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version": "2",
        # Arrow transfer for pandas UDFs; bounded batches keep the numpy signature
        # kernels' intermediates small and the pipeline memory-stable
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
        "spark.sql.session.timeZone": "UTC",
        # deterministic shuffle behavior for the local[8]==local[32] check
        "spark.sql.execution.sortBeforeRepartition": "true",
        # PySpark 4.1's DataFrame debugging captures a Python stack and sets a
        # JVM origin on EVERY F.* / DataFrame call: about half the py4j round
        # trips of a pipeline pass's driver plan building (a warm pass over
        # the 200-page test fixture: ~6,200 -> ~3,200 calls). The cost of
        # turning it off: error messages lose the Python call site in their
        # DataFrame query context. To get it back,
        # pass extra={"spark.python.sql.dataFrameDebugging.enabled": "true"};
        # PySpark reads the flag once per Python process, at the first
        # DataFrame call after the session exists.
        "spark.python.sql.dataFrameDebugging.enabled": "false",
    }
    # shuffle files on tmpfs when available: this sandbox's /tmp is a slow overlay
    # (2x shuffle-stage latency). On a real cluster the platform sets local dirs
    # (NVMe) and this is skipped via SPARK_GRAFT_LOCAL_DIR='' or an existing env.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/spark-local"
    if local_dir:
        confs["spark.local.dir"] = local_dir
    if extra:
        confs.update(extra)
    for k, v in confs.items():
        b = b.config(k, v)
    return b.getOrCreate()


@contextmanager
def small_plans(spark: SparkSession, n_rows: int) -> Iterator[None]:
    """Plan and run non-adaptive while inside, when ``n_rows`` (the call's
    band-row bound) is at most ``config.DRIVER_MAX_ROWS``; a no-op above it.
    At that size every AQE query stage is a separate job whose fixed cost
    exceeds its work, and there is no skew or join size left to adapt to.
    The caller's setting is restored on exit, error or not; a caller that
    already runs non-adaptive stays so. The conf is session-global, so it
    also covers queries other threads run on ``spark`` meanwhile, and caches
    persisted inside keep the non-adaptive plan they were built with."""
    if n_rows > config.DRIVER_MAX_ROWS:
        yield
        return
    prev = spark.conf.get(_AQE)
    spark.conf.set(_AQE, "false")
    try:
        yield
    finally:
        spark.conf.set(_AQE, prev)


def non_adaptive_count(df: DataFrame) -> int:
    """``df.count()`` with the count's own plan non-adaptive, at any size:
    for the counts that size a ``small_plans`` scope before it exists. Meant
    for a persisted ``df``. A global count has no join, skew or partition
    count to adapt, while under AQE the cache it reads and its partial and
    final aggregates each run as a separate job (a persisted micro-batch's
    count: 3 jobs, against 1). The cache build is not affected: Spark plans
    a persisted frame when ``persist()`` is called, so the build keeps the
    caller's setting whatever the size."""
    with small_plans(df.sparkSession, 0):
        return df.count()


def arrow_frame(
    spark: SparkSession, schema: StructType | str, columns: dict | None = None
) -> DataFrame:
    """A frame of driver-side data (``columns``: name -> list; omitted or
    missing columns are empty) built through Arrow. Actions on it decode the
    Arrow batches in the JVM and start no Python worker — unlike
    ``createDataFrame(list, ...)``, whose rows go through one (an empty one
    costs a ~0.4 s Python-worker job per action)."""
    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    columns = columns or {}
    table = pa.table({f.name: columns.get(f.name, []) for f in schema.fields})
    return spark.createDataFrame(table, schema)
