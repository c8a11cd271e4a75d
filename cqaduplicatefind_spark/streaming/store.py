"""The part store behind the incremental matcher's three roots.

One ``PartStore`` per root — ``bands/`` (slim band index rows), ``sigs/``
(signature payloads) and ``matches/`` (accepted edges) — owns that root's
on-disk layout. Streaming micro-batches, batch increments and the seed write
all go through it, so the three paths interoperate on ONE index.

Layout: every append writes one ``batch=<id>`` part dir; tiered compaction
folds parts into ``compacted=<id>`` tiers (``compacted=<id>m`` when tiers
merge). Readers scan every dir whose name starts with ``batch=`` or
``compacted=`` — ``<tier>.old`` remnants of an interrupted merge included —
and holds a ``_SUCCESS`` marker, and nothing else, so a merge's temp dir is
never read. The marker matters under the v2 output committer
(``session.build_session``): each task moves its files into the final dir
when it commits, so a write killed mid-job leaves a part dir holding some
part files and no marker. Readers and merges skip it, and a replay of the
batch id overwrites it.

Writers: Spark or the driver, by the one row bound
(``config.DRIVER_MAX_ROWS``, read at call time). An append of a Spark
frame is a Spark job; an append of a ``pyarrow.Table`` (the incremental
matcher's driver path already holds the micro-batch and its edges) is
written by pyarrow on the driver. A merge whose sources' footer rows fit the
bound folds on the driver too; above it, Spark folds. The bound counts band
rows: a band-store row is one, a sig-store row (one doc) is ``bands`` of
them, the same ``DRIVER_MAX_ROWS // bands`` docs the driver path's payload
collect is held to. At stream scale each of those Spark jobs was a fixed
cost larger than its few kilobytes of work. Both writers cut the same files
(``_n_files``) and write ``_SUCCESS`` last, after every part file, so the
marker means the same thing whoever wrote the dir.

Schema: each store is read with its declared schema, so no parquet footer is
opened for schema inference on the read path (a schema-merging read opened
every footer in the store on every trigger — ~0.5s/trigger on a 4-batch sf0.1
store). A store whose schema declares ``src_batch`` tags every appended row
with its batch id and filters replays on it (see ``read``). Every writer
writes every declared column, so a part that lacks one is schema drift.

File size: one rule, ``_n_files``, with one rows-per-file constant per store,
for appends and merges alike. Writing with the upstream partitioning left
32-64 tiny files per batch dir at bench scale, and every trigger re-listed
and re-opened hundreds of them. Row-count sizing is scale-free: a 6k-doc
micro-batch folds to 1 file, a 10^9-row increment writes ~250 band files of a
few hundred MB each (guide §6: aim 128MB-1GB). Merges sum the parquet footer
row counts of their sources, and the same footer pass guards the schema:
a part holding a column the declared schema lacks, or lacking one it
declares, makes the merge raise before anything is written, instead of
folding silently-dropped data or a null ``src_batch`` tag.

Crash windows: appends overwrite their own ``batch=<id>`` dir, so a replayed
batch id replaces its rows (exactly-once). Merges keep the store a readable
superset through every crash window — see ``PartStore._merge``.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType

from cqaduplicatefind_spark import config
from cqaduplicatefind_spark.config import DedupConfig
from cqaduplicatefind_spark.operators.verify import EDGE_SCHEMA

BAND_STORE_SCHEMA = "id string, band int, bh long, src_batch long"
SIG_STORE_SCHEMA = (
    "url string, minhash array<long>, simhash long, n_tokens int, "
    "n_shingles int, shingles array<long>"
)

BAND_ROWS_PER_FILE = 4_000_000  # ~50B/row -> ~200MB files
SIG_ROWS_PER_FILE = 250_000     # ~1KB/row (shingle payload) -> ~250MB files


def _n_files(n_rows: int, rows_per_file: int) -> int:
    return max(1, -(-int(n_rows) // int(rows_per_file)))


def store_roots(work_dir: str) -> tuple[str, str, str]:
    """The bands, sigs and matches roots under one work dir."""
    return tuple(os.path.join(work_dir, d) for d in ("bands", "sigs", "matches"))


def open_stores(
    spark: SparkSession, bands_dir: str, sigs_dir: str, matches_dir: str,
    compact_every: int = 16, bands: int = DedupConfig.bands,
) -> tuple[PartStore, PartStore, PartStore]:
    """The band, signature and match stores. Matches are never compacted and
    keep the partitioning of the job that computes them (their row count is
    known only after that job ran); a driver-written match part is one file.
    ``bands`` (the config's) weighs a sig-store row against the driver
    bound."""
    return (
        PartStore(spark, bands_dir, BAND_STORE_SCHEMA, BAND_ROWS_PER_FILE,
                  compact_every),
        PartStore(spark, sigs_dir, SIG_STORE_SCHEMA, SIG_ROWS_PER_FILE,
                  compact_every, row_weight=bands),
        PartStore(spark, matches_dir, EDGE_SCHEMA),
    )


class PartStore:
    """One store root: ``batch=<id>`` parts folded into ``compacted=`` tiers,
    read with the declared ``schema``. ``row_weight`` is one row's count
    against the driver bound, in band rows."""

    def __init__(self, spark: SparkSession, root: str, schema: str,
                 rows_per_file: int | None = None,
                 compact_every: int = 16, row_weight: int = 1) -> None:
        self.spark = spark
        self.root = root
        self.schema = schema
        self.rows_per_file = rows_per_file
        self.compact_every = compact_every
        self.row_weight = row_weight
        struct = DataType.fromDDL(schema)
        self.columns = struct.names
        self.arrow_schema = to_arrow_schema(struct)
        self.tagged = "src_batch" in self.columns
        os.makedirs(root, exist_ok=True)

    def parts(self) -> list[str]:
        """The committed part dirs: a job's ``_SUCCESS`` marker lands only
        after every task's output did."""
        parts = [
            os.path.join(self.root, d)
            for d in sorted(os.listdir(self.root))
            if d.startswith("batch=") or d.startswith("compacted=")
        ]
        return [p for p in parts if os.path.exists(os.path.join(p, "_SUCCESS"))]

    def read(self, exclude_batch: int | None = None) -> DataFrame | None:
        """The store's rows without the ``src_batch`` tag, or None when it has
        no parts. ``exclude_batch`` drops that batch's own rows. Used by the
        replay path: a crash between the index append and the checkpoint
        commit means the replayed batch finds its OWN rows in the store — they
        are not "index" (the overwrite is about to replace them), and including
        them would inflate the recovery row count and feed the pairing kernel
        stale copies of the batch's own docs. Skipping the ``batch=<id>`` dir
        is only an I/O shortcut: rows a pre-crash compaction already folded
        into a tier no longer live under that name, so a tagged store filters
        on the ``src_batch`` row tag, which makes the exclusion exact through
        every crash window. A row without the tag raises in the job that
        reads it: the filter cannot tell whose row it is, and dropping it
        would hide it from every later trigger."""
        parts = self.parts()
        if exclude_batch is not None:
            skip = f"batch={exclude_batch}"
            parts = [p for p in parts if os.path.basename(p) != skip]
        if not parts:
            return None
        df = self.spark.read.schema(self.schema).parquet(*parts)
        if not self.tagged:
            return df
        if exclude_batch is not None:
            tag = F.col("src_batch")
            df = df.where(
                F.when(tag.isNull(), F.raise_error(F.lit(
                    f"{self.root}: a row without its src_batch tag"
                ))).otherwise(tag != int(exclude_batch))
            )
        return df.drop("src_batch")

    def read_batch(self, batch_id: int) -> DataFrame:
        """One batch's part, before any compaction folds it into a tier."""
        return self.spark.read.schema(self.schema).parquet(
            os.path.join(self.root, f"batch={batch_id}")
        ).drop("src_batch")

    def append(self, batch_id: int, frame: DataFrame | pa.Table,
               n_rows: int | None = None) -> None:
        """Write ``frame`` as ``batch=<batch_id>``, replacing a previous write
        of the same id. ``n_rows`` sizes a Spark frame's files (a
        shuffle-free coalesce of its partitions); without it the frame keeps
        its partitioning. A ``pyarrow.Table`` is written on the driver, sized
        by its own row count (one file when the store sets no size)."""
        path = os.path.join(self.root, f"batch={batch_id}")
        if isinstance(frame, pa.Table):
            self._write(path, self._conform(frame, batch_id))
            return
        out = frame.select(*[c for c in self.columns if c != "src_batch"])
        if self.tagged:
            out = out.withColumn("src_batch", F.lit(int(batch_id)).cast("long"))
        if n_rows is not None:
            out = out.coalesce(_n_files(n_rows, self.rows_per_file))
        out.write.mode("overwrite").parquet(path)

    def _conform(self, table: pa.Table, batch_id: int | None = None) -> pa.Table:
        """``table`` in the declared Arrow schema: each column cast to its
        declared type. ``batch_id`` tags every row of a tagged store with
        it."""
        cols = []
        for field in self.arrow_schema:
            if field.name == "src_batch" and batch_id is not None:
                col = pa.array(np.full(table.num_rows, batch_id, np.int64))
            else:
                col = table[field.name].cast(field.type)
            cols.append(col)
        return pa.Table.from_arrays(cols, schema=self.arrow_schema)

    def _write(self, path: str, table: pa.Table) -> None:
        """Spark's overwrite, on the driver: replace ``path`` by ``table`` cut
        into ``_n_files`` files, then mark it committed with ``_SUCCESS``."""
        if os.path.exists(path):
            shutil.rmtree(path)
        os.makedirs(path)
        n = _n_files(table.num_rows, self.rows_per_file) if self.rows_per_file else 1
        step = -(-table.num_rows // n)
        for i in range(n):
            pq.write_table(table.slice(i * step, step),
                           os.path.join(path, f"part-{i:05d}.parquet"))
        open(os.path.join(path, "_SUCCESS"), "w").close()

    def compact(self, batch_id: int) -> None:
        """TIERED compaction: once ``compact_every`` small ``batch=*`` parts
        accumulate they fold into ONE new ``compacted=<batch_id>`` tier —
        O(compact_every x batch) write work, NOT a rewrite of the whole store —
        and once ``compact_every`` tiers accumulate they merge into one
        (amortized O(index / compact_every^2) per batch). Without any
        compaction a stream at batch 10^4 reads 10^4 parquet footers per
        trigger; with whole-store compaction every K batches the write path
        becomes O(index) per K triggers — the same scale hazard the
        touched-bucket semi-join removes from the read path. Tiering bounds
        BOTH: <= ~2*compact_every dirs read per trigger, amortized per-batch
        write work independent of the index for the common tier-0 fold."""
        for prefix, suffix in (("batch=", ""), ("compacted=", "m")):
            sources = [
                p for p in self.parts()
                if os.path.basename(p).startswith(prefix)
            ]
            if len(sources) >= self.compact_every:
                self._merge(sources, os.path.join(
                    self.root, f"compacted={batch_id}{suffix}"))

    def _footer_rows(self, files: list[str]) -> int:
        """Summed footer row counts of ``files``; raises on a file whose
        columns differ from the declared schema's."""
        n = 0
        for f in files:
            meta = pq.read_metadata(f)
            names = set(meta.schema.to_arrow_schema().names)
            extra = names - set(self.columns)
            if extra:
                raise ValueError(
                    f"{f} holds columns {sorted(extra)} the store schema "
                    f"lacks ({self.schema}); refusing to compact them away"
                )
            missing = set(self.columns) - names
            if missing:
                raise ValueError(
                    f"{f} lacks columns {sorted(missing)} the store schema "
                    f"declares ({self.schema}); refusing to fold them in as nulls"
                )
            n += meta.num_rows
        return n

    def _merge(self, sources: list[str], final: str) -> None:
        """Fold ``sources`` into ``final``, leaving the store a READABLE
        SUPERSET through every crash window: (1) the union is written to a temp
        dir no reader scans, (2) a pre-existing ``final`` (batch replay) is
        renamed to ``<final>.old`` — still matching the reader prefix, and its
        rows are already in the temp union because sources are read FIRST —
        (3) the temp dir renames into place, (4) sources and ``.old`` are
        removed LAST. A crash at any point leaves every row reachable under a
        scanned name (possibly duplicated; readers dropDuplicate), and stale
        ``.old`` dirs self-heal by re-entering the next merge as sources.
        The fold reads the raw parts (tags included) and writes size-targeted
        files — a tier must not multiply the file count it replaces. Sources whose rows fit
        the driver bound fold on the driver (pyarrow, read file by file into
        the declared schema); larger ones fold in one Spark job."""
        files = [
            os.path.join(p, f) for p in sources for f in sorted(os.listdir(p))
            if f.endswith(".parquet")
        ]
        n_rows = self._footer_rows(files)
        tmp = os.path.join(self.root, "_compact_tmp")
        if n_rows * self.row_weight <= config.DRIVER_MAX_ROWS:
            tables = [self.arrow_schema.empty_table()]
            for f in files:
                with pq.ParquetFile(f) as part:
                    tables.append(self._conform(part.read()))
            self._write(tmp, pa.concat_tables(tables))
        else:
            self.spark.read.schema(self.schema).parquet(*sources).coalesce(
                _n_files(n_rows, self.rows_per_file)
            ).write.mode("overwrite").parquet(tmp)
        old = final + ".old"
        if os.path.exists(final):
            if os.path.exists(old):
                shutil.rmtree(old)
            os.rename(final, old)
        os.rename(tmp, final)
        for p in sources + [old]:
            if p != final and os.path.exists(p):
                shutil.rmtree(p)
