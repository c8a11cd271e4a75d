"""Engine configuration.

All knobs that define duplicate semantics live here so that "identical
shingle/signature config" (BASELINE.json north_rule) is a single frozen object whose
fingerprint is stamped into every checkpointed stage table. The reference hard-codes
its equivalents (top-k=10 at ``src/BM25DuplicateRetriever.py:13``; 150-dim Doc2Vec at
``src/lstm-siamese/config.py``); we make them explicit and deterministic. Values
no caller varies are module constants.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass


# Mersenne prime 2^61 - 1: modulus for the universal-hash MinHash permutations.
# Classic (a*x + b) mod p construction (Broder 1997, "On the resemblance and
# containment of documents").
MERSENNE_PRIME_61 = (1 << 61) - 1

# SimHash width: one signed 64-bit lane per doc (Spark ``bigint``), split into
# ``hamming_k + 1`` pigeonhole pieces for candidate generation.
SIMHASH_BITS = 64
# splitmix64 key of the SimHash shingle-bit hashes
SIMHASH_SEED = 7

# retrieval depth of the ranked-retrieval metrics (reference:
# numberOfRelevantQs=10 at ``src/BM25DuplicateRetriever.py:13``)
TOP_K = 10

# Row bound for work that runs on (or ships through) the driver instead of a
# distributed plan: connected components union-finds edge sets of at most
# this many rows in driver Python, the exact-span pass broadcasts
# candidate-pair sets up to it, and ``IncrementalDedup.process_batch`` pairs
# and verifies a micro-batch of at most this many band rows on the driver.
# That path holds at most the new band rows, as many touched index rows and
# the payloads of ``DRIVER_MAX_ROWS // bands`` candidate endpoints. At the
# bound, with ~65-byte URL ids and 2000-token pages (1996 shingles each, as
# in dedupbench's batch_lowdup), that is 15 + 15 MB of band rows as Arrow,
# 191 MB of payload as Arrow and 190 MB of per-doc shingle sets in numpy:
# about 0.4 GB, and about 0.3 s of pairing plus 1.2 s of scoring in driver
# Python on a 4-vCPU host (synthetic rows: one shared band per new doc).
# ``run_pipeline`` pairs and verifies a pass whose signed docs' band rows fit
# the bound on the driver too (``driver_pair_stage``): one collect of at most
# ``DRIVER_MAX_ROWS // bands`` docs' band hashes, SimHash and shingles. At
# the bound, with the pages above, that is 202 MB of Arrow plus the bucket
# rows (~20 MB) and the endpoints' shingle sets, and 1.6-1.8 s warm in driver
# Python on a 4-vCPU host (synthetic docs: 2,500 near-duplicate pairs among
# 12,500). With the span pass on, the collect also carries each doc's
# ``n_tokens`` and winnowed ``span_fps`` for the driver-side span gate: 326
# fingerprints (2.6 KB) per 2000-token page at the default
# ``min_overlap_span`` of 50, so 33 MB more at the bound (measured with the
# package's kernel on 2000-token pages of distinct tokens).
# The part store (``streaming/store.py``) holds itself to the bound too, in
# band rows (a sig-store row is ``bands`` of them): the stream's driver path
# writes its micro-batch's band, sig and match parts with pyarrow from the
# one collect above, and ``PartStore._merge`` folds sources whose footer rows
# fit the bound on the driver. One fold at the bound, 2 parts into 1 tier,
# 3 runs on a 4-vCPU host (local[4], 4 GB driver heap), peak = growth of
# the process tree's RSS: the sig store's 12,500 docs of 2000-token pages
# (212 MB of payload) 1.4-1.5 s and +530-550 MB on the driver, against
# 4.4-10.5 s and +35 to +1800 MB (the JVM heap growing on the first run) as
# a Spark fold; 200k band rows 0.07-0.09 s and +38-48 MB, against
# 0.48-0.94 s and +0 to +83 MB. Every user reads
# ``config.DRIVER_MAX_ROWS`` when called, never a copy bound at import, so
# one raised (or monkeypatched) value moves them all.
#
# Set by driver memory, not by a speed crossover: no crossover showed up in
# the sizes measured. On a 4-vCPU host (local[4]), dedup-shaped graphs
# (5-doc families, ~65-byte URL ids), components plus one attach_singletons
# count, median of 3 warm runs:
#     edges    driver path    star loop
#       50k       1.3 s          5.8 s
#      200k       3.0 s          9.8 s
#      400k       4.9 s         17.2 s
#      800k       8.2 s         26.9 s
# Above the bound, the probe that precedes the star loop (a bounded collect of
# 200,001 rows) cost 0.4-0.5 s on cached 400k- and 800k-edge sets, against
# 13-17 s for the star loop at 400k. At 200k edges the driver holds a 27 MB
# Arrow table and the union-find peaks at 58 MB of Python heap (0.8 s of CPU);
# both grow linearly. Raise the bound only with the driver's memory. Other
# graph shapes were not measured.
DRIVER_MAX_ROWS = 200_000


@dataclass(frozen=True)
class DedupConfig:
    """Frozen duplicate-detection semantics. Hash it into stage-table lineage."""

    # --- shingling ---
    shingle_k: int = 5           # tokens per shingle (w-shingling over normalized tokens)
    # False = trust the input text column as ALREADY normalized (tokenized,
    # single-spaced) and skip the reference normalization pass — for corpora
    # pre-cleaned upstream, and for oracle queries whose SQL twin cannot
    # express stopword removal + Porter2 stemming
    normalize_input: bool = True

    # --- MinHash ---
    num_perms: int = 128         # north_star: "128-perm MinHash per Arrow batch"
    minhash_seed: int = 42

    # --- LSH banding: num_perms = bands * rows_per_band ---
    bands: int = 16
    rows_per_band: int = 8

    # --- SimHash ---
    hamming_k: int = 3           # match if Hamming distance <= k (pigeonhole: k+1 pieces)

    # --- verification: every candidate pair is exactly verified ---
    jaccard_threshold: float = 0.8   # exact-verify cutoff for an edge
    # accept-arm toggles (accept_edges): an edge is accepted on exact Jaccard >=
    # jaccard_threshold, OR (accept_hamming) SimHash Hamming <= hamming_k, OR
    # (containment_accept not None) containment >= containment_accept. Disabling
    # the latter two reduces duplicate semantics to pure set-Jaccard — the
    # SQL-expressible form the driver oracle checks.
    accept_hamming: bool = True
    containment_accept: float | None = 0.95
    min_overlap_span: int = 50       # tokens: exact-span pass (substring containment)
    # corpus-level winnowing-fingerprint pass: discovers pairs sharing an exact
    # contiguous run >= min_overlap_span tokens even when their Jaccard is far
    # below the LSH collision curve (page embedded in a boilerplate shell), each
    # pair exactly verified; edges union into clustering
    span_pass: bool = True

    # --- skew handling ---
    # band groups larger than this emit O(m) star edges + salted sub-bucket pairs
    # instead of O(m^2) full pairs; a pair colliding in every band otherwise costs
    # bands * C(m,2) shuffle rows. Small groups keep full pairing for
    # verification robustness. Hot groups are re-keyed into sub-buckets of
    # expected size max_band_group and fully paired within each (so true-dup
    # pairs inside a heterogeneous hot bucket survive exact-verify, which may
    # reject their star edges); an unlucky/adversarial sub-bucket is capped at
    # 8 * max_band_group members (``bucket_candidates``' ``salt_cap``).
    max_band_group: int = 8

    # --- execution ---
    shuffle_partitions: int = 32
    signature_partitions: int = 32   # repartition width for the signature stage

    def __post_init__(self) -> None:
        if self.bands * self.rows_per_band != self.num_perms:
            raise ValueError(
                f"bands*rows_per_band must equal num_perms "
                f"({self.bands}*{self.rows_per_band} != {self.num_perms})"
            )

    # knobs that tune EXECUTION, not duplicate semantics: changing parallelism must
    # not invalidate checkpoints (results are parallelism-independent — proven by
    # the scaling bench's cross-level cluster checksum)
    _EXECUTION_KNOBS = ("shuffle_partitions", "signature_partitions")

    def fingerprint(self) -> str:
        """Stable hash of duplicate semantics — stamped into checkpoint lineage so a
        resume with a different config never silently reuses stale stage tables.
        Execution-tuning knobs are excluded: re-running with different parallelism
        resumes cleanly from the same checkpoints."""
        payload = {
            k: v for k, v in asdict(self).items() if k not in self._EXECUTION_KNOBS
        }
        blob = json.dumps(payload, sort_keys=True).encode("utf-8")
        return hashlib.sha256(blob).hexdigest()[:16]
