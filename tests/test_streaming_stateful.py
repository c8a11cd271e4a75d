"""applyInPandasWithState first-seen dedup, driven through REAL multi-trigger
streams (file source, maxFilesPerTrigger=1, availableNow) with micro-batch
order pinned by file modification times."""

import itertools
import os

import pyarrow as pa
import pyarrow.parquet as pq

from cqaduplicatefind_spark.streaming.stateful import first_seen_stream

_name_counter = itertools.count()


def _write_batches(src: str, tables: list[pa.Table]) -> None:
    """One parquet FILE per micro-batch, mtimes strictly increasing so the file
    source (latestFirst=false) processes them in list order, one per trigger."""
    os.makedirs(src, exist_ok=True)
    t0 = 1_000_000_000
    for i, tbl in enumerate(tables):
        path = os.path.join(src, f"batch_{i:03d}.parquet")
        pq.write_table(tbl, path)
        os.utime(path, (t0 + 10 * i, t0 + 10 * i))


def _run_stream(spark, src, schema_ddl, transform, name_prefix, ckpt):
    stream = (
        spark.readStream.schema(schema_ddl)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    name = f"{name_prefix}_{next(_name_counter)}"
    q = (
        transform(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    # returns False on timeout without raising — fail instead of reading a
    # partial memory-sink table
    assert q.awaitTermination(300), "stream timed out"
    return spark.table(name)


def test_first_seen_dedup_across_batches(spark, tmp_path):
    """Per content key, exactly one row is emitted: the min-url row of the
    FIRST micro-batch the key arrives in. Duplicates within a batch, in a later
    batch, and after an intervening batch are all suppressed by per-key state."""
    src = str(tmp_path / "src")
    _write_batches(
        src,
        [
            pa.table({"url": ["u3", "u1", "u5"], "content_key": ["K1", "K1", "K2"]}),
            pa.table({"url": ["u0", "u2"], "content_key": ["K1", "K3"]}),
            pa.table({"url": ["u9", "u8", "u7"], "content_key": ["K2", "K3", "K4"]}),
        ],
    )
    out = _run_stream(
        spark,
        src,
        "url string, content_key string",
        first_seen_stream,
        "first_seen",
        str(tmp_path / "ckpt"),
    )
    got = {(r.url, r.content_key) for r in out.collect()}
    # K1: batch0 wins over batch1's smaller url u0; within batch0, u1 < u3.
    # K2: batch0's u5, not batch2's u9. K3: batch1's u2. K4: batch2's u7.
    assert got == {("u1", "K1"), ("u5", "K2"), ("u2", "K3"), ("u7", "K4")}
