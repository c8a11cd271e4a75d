"""cqaduplicatefind_spark — a PySpark-native near-duplicate detection & clustering engine.

A from-scratch, Spark-first rebuild of the duplicate-detection dataflow of
kkrasika/CQADuplicateFind (single-node pandas: HTML-strip -> stopword/stem
normalization -> BM25 top-k candidates -> per-pair similarity -> P@10/MAP), re-expressed
for web scale:

- normalization as Arrow-batched pandas UDFs (byte-identical ``strip_tags``,
  reference: ``src/DataSetUtil.py:48-102``),
- MinHash (128 perms) + SimHash (64-bit) signatures computed with numpy matrix ops
  inside vectorized pandas UDFs,
- candidate generation via LSH band-hash equi-joins with salted skew handling and
  SimHash Hamming pigeonhole joins (replaces BM25/Doc2Vec retrieval,
  reference: ``src/BM25DuplicateRetriever.py:46-63``),
- exact verification (shingle Jaccard + overlap spans) on candidates only,
- duplicate clusters via iterative large-star/small-star connected components,
- metrics (dup-pair recall, P@10, MAP) as plain DataFrame aggregations
  (reference: ``src/BM25DuplicateRetriever.py:85-103``).

Everything is DataFrame-declarative so Catalyst handles pruning/pushdown; the only
Python on the hot path is Arrow-batched (no per-row Python UDFs).
"""

from pyspark import TaskContext

from cqaduplicatefind_spark.config import DedupConfig

if TaskContext.get() is not None:  # imported inside a Python worker
    from cqaduplicatefind_spark import worker

    worker.install()

__all__ = ["DedupConfig"]
__version__ = "0.1.0"
