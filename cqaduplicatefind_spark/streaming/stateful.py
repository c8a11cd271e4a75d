"""A custom stateful streaming operator (``applyInPandasWithState``) — the
Structured Streaming surface the incremental matcher
(``streaming/incremental.py``, foreachBatch) does not exercise.

``first_seen_stream``: exact-dedup as a STATEFUL STREAM — per content key,
emit only the first-arriving row across the whole stream; every later
duplicate (same micro-batch, later micro-batch, any interleaving) is
suppressed by per-key state in Spark's state store. This is the streaming
form of the exact-dedup tier (``exact_dedup_hash_groups``): on an unbounded
crawl, "keep the first capture of each byte-identical page" cannot buffer
the corpus — per-key state is the scale-correct shape (state size = one
flag per distinct key, partitioned by the state store, never the stream).
Capability analog of the reference's incremental partial-progress builder
(/root/reference/src/archive/MyReader2.py:16,41-42) for the exact tier.

The operator is plain declarative Structured Streaming: the planner handles
state partitioning (hash on the group key) and recovery from the checkpoint;
nothing here collects to the driver.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame


def first_seen_stream(stream_df: DataFrame) -> DataFrame:
    """streaming (url, content_key) -> the rows whose ``content_key`` is seen
    for the FIRST time across the stream. Deterministic within a micro-batch:
    among a batch's rows for a new key, the min-``url`` row is emitted (a
    total order on both columns, so the pick is a function of the batch's
    row multiset, independent of Arrow chunking and input partitioning).
    State per key is a single
    flag (``seen int``) — the smallest possible state footprint; no timeout, so
    a key stays deduplicated for the stream's lifetime (bound it with a TTL
    timeout if the key space is unbounded and staleness is acceptable).

    The grouping hash-partitions the stream by key, so duplicates of one key
    always meet the same state-store partition — correctness is independent of
    micro-batch boundaries and input partitioning.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    cols = ["url", "content_key"]
    fields = dict(stream_df.dtypes)
    out_schema = ", ".join(f"{c} {fields[c]}" for c in cols)

    def fn(key, pdfs: Iterator[pd.DataFrame], state):
        if state.exists:
            return  # duplicate key: suppress the whole group, touch nothing
        best: pd.DataFrame | None = None
        for pdf in pdfs:
            cand = pdf.sort_values(cols, kind="stable").head(1)
            best = (
                cand
                if best is None
                else pd.concat([best, cand]).sort_values(cols, kind="stable").head(1)
            )
        state.update((1,))
        if best is not None:
            yield best[cols]

    return stream_df.groupBy("content_key").applyInPandasWithState(
        fn, out_schema, "seen int", "append", GroupStateTimeout.NoTimeout
    )
