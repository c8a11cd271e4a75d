"""Candidate-pair generation: LSH band-hash joins + SimHash Hamming pigeonhole.

Replaces the reference's candidate retrieval (BM25 top-10 per query at
``/root/reference/src/BM25DuplicateRetriever.py:46-63``; Doc2Vec ``most_similar`` at
``src/DuplicateRetriever.py:47``) — and its O(n^2) archive fallbacks
(``src/archive/MyReader.py:17-27``) — with equi-joins that Catalyst can shuffle on
bucket keys.

Scale design (the part that must survive 10^12 docs):

- Band keys are computed **JVM-side** (``xxhash64`` over ``slice(minhash, ...)``)
  inside whole-stage codegen — no Python in the explode path.
- The self-join shuffles on (bucket kind, key). Hot buckets (boilerplate pages whose
  band collides at huge multiplicity) would emit O(m^2) pairs; groups larger than
  ``cfg.max_band_group`` are bounded two ways, both O(m):
    (a) **star edges** (member -> group-min id): a connectivity backbone. Star edges
        preserve the RAW candidate graph's components, but downstream exact-verify
        can reject a (min, member) edge while the (member, member) pair it replaced
        would have passed — so stars alone are not recall-safe in heterogeneous hot
        buckets (a template family containing several distinct dup-clusters).
    (b) **salted sub-buckets**: members are re-keyed by
        ``xxhash64(id, bucket-key) % ceil(n / max_group)`` into sub-groups of
        expected size ``max_group`` and fully paired within each — per-member
        pairing cost in a hot bucket equals the cost members of an ordinary
        ``max_group``-sized bucket already pay. The salt includes the bucket key,
        so a true dup pair gets an INDEPENDENT 1/n_sub co-location draw in every
        band it collides in, on top of its (usually non-hot) content-specific
        bands. ``salt_cap`` (8) caps an unlucky/adversarial sub-group at
        ``salt_cap * max_group`` members (beyond that: stars only).
  The flagship pipeline splits the two treatments across a verify feedback loop
  (``mode`` parameter): the FIRST candidate round emits small-bucket pairs +
  star edges only (``mode="base"``, stars tagged ``is_star``); sub-bucket
  pairing (``mode="rescue"``) runs as a second round restricted to pairs
  touching an **orphan** — an endpoint of a star edge that exact-verify
  REJECTED. On homogeneous corpora (the overwhelming case: a hot bucket is
  usually one big duplicate family whose star edges all pass) the rescue round
  is empty and the pipeline never pays the C(m,2)/n_sub sub-bucket volume;
  recall is unchanged because a true pair (x, y) that final clustering would
  otherwise miss must have x or y on a rejected star edge (if both their star
  edges passed, both are already in the bucket-min's cluster).
  AQE skew-join handles residual block-level skew; group-size accounting is an
  explicit aggregation, not a sample.
- Pairs are canonicalized (a < b) and deduplicated once, at the end, on the pair key.
"""

from __future__ import annotations

from itertools import combinations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from cqaduplicatefind_spark.config import SIMHASH_BITS, DedupConfig

PAIR_COLS = ("id_a", "id_b")
# xxhash64 seed of the hot-bucket sub-bucket salt
SALT_SEED = 17


def canonical_pairs(df: DataFrame, dedup: bool = True) -> DataFrame:
    """Canonical order (least, greatest) of (id_a, id_b) + drop self/duplicate
    pairs. Mirrors the reference's symmetric dup semantics
    (src/JsonToCsvConverter.py:17-22).

    ``dedup=False`` skips the dropDuplicates shuffle — callers that union several
    candidate sources dedup ONCE at the end (a pair colliding in many LSH bands
    otherwise pays one full shuffle per source)."""
    out = df.select(
        F.least(F.col("id_a"), F.col("id_b")).alias("id_a"),
        F.greatest(F.col("id_a"), F.col("id_b")).alias("id_b"),
    ).where(F.col("id_a") < F.col("id_b"))
    return out.dropDuplicates(["id_a", "id_b"]) if dedup else out


def bucket_candidates(
    buckets: DataFrame,
    id_col: str = "id",
    key_cols: tuple[str, ...] = ("bucket",),
    max_group: int = 64,
    dedup: bool = True,
    carry_cols: tuple[str, ...] = (),
    pair_filter=None,
    salt_cap: int = 8,
    mode: str = "all",
    star_flag: bool = True,
) -> DataFrame:
    """(id, bucket-key..., carry...) -> candidate edges (id_a, id_b), skew-capped.

    Groups with <= max_group members emit all C(m,2) pairs via a self-equi-join.
    Hot groups (> max_group) emit (a) m-1 star edges to the group minimum (O(m)
    connectivity backbone) and (b) full pairs within salted sub-buckets of
    expected size max_group (so member-member true-dup pairs survive a later
    exact-verify that may reject their star edges; see module docstring).
    ``salt_cap`` bounds an unlucky sub-bucket at salt_cap*max_group members.

    ``mode`` selects which of the three pair sources are emitted (the verify
    feedback loop in the module docstring):
    - ``"all"``: small pairs + stars + hot sub-bucket pairs (one-shot callers:
      span pass, streaming, transitive closure);
    - ``"base"``: small pairs + stars only, with an ``is_star`` output column
      (the pipeline's cheap first round — star provenance feeds orphan calc);
    - ``"rescue"``: hot sub-bucket pairs ONLY (second round over orphans; small
      buckets and stars were already tried in base).

    ``star_flag=False`` (base mode) emits star edges with ``is_star=false``:
    for bucket families whose hot buckets are typically NOISE (SimHash pieces —
    a 16-bit collision among unrelated docs), a rejected star edge is the
    expected outcome, not a heterogeneity signal, and must NOT orphan its
    endpoints — otherwise the rescue round degenerates to full sub-bucket
    pairing over most of the corpus.

    ``carry_cols`` ride to both pair sides as ``<col>_a``/``<col>_b`` (star edges
    carry the group-min's values via a struct-min window); ``pair_filter`` is
    applied to every emitted pair WITH the carried columns — e.g. the SimHash
    Hamming gate — before canonicalization.

    Plan shape: small-bucket pairing and hot-bucket sub-bucket pairing are ONE
    self-join on (bucket key, _salt) — small buckets get the constant salt -1, hot
    members get ``xxhash64(id, bucket key) % n_sub`` — so the whole treatment is
    one pairing join + a star projection. Both window passes and the join
    partition by (a refinement of) the bucket key, so Catalyst satisfies them
    with a SINGLE exchange (asserted by the plan shuffle-budget test). In
    ``"base"`` mode the sub-bucket window is skipped entirely: small buckets
    have ``_sn == _n`` by construction and hot members sit out the pairing
    join, so the second within-partition sort would compute a column nobody
    reads.
    """
    from pyspark.sql import Window

    if mode not in ("all", "base", "rescue"):
        raise ValueError(f"unknown bucket_candidates mode: {mode!r}")
    keys = list(key_cols)
    carry = list(carry_cols)
    out_cols = ["id_a", "id_b"] + [f"{c}_{s}" for c in carry for s in ("a", "b")]

    b = buckets.select(F.col(id_col).alias("id"), *keys, *carry)
    w = Window.partitionBy(*keys)
    annotated = b.withColumn("_n", F.count("*").over(w))
    if mode in ("all", "base"):
        # struct-min ordered by id first: the group-min id AND its carried
        # columns. Only the star branch reads it, and rescue emits no stars —
        # same dead-column guard as the base-mode _sn skip below
        annotated = annotated.withColumn(
            "_mn", F.min(F.struct(F.col("id"), *carry)).over(w)
        )
    annotated = annotated.where(F.col("_n") >= 2)  # singletons can't pair

    # unified pairing key: small buckets pair whole (salt -1); hot-bucket members
    # pair within salted sub-buckets of expected size max_group (salt over the
    # bucket key too -> independent draws per band). A NULL salt exempts a member
    # from the pairing join entirely (filtered below): hot members in "base" mode
    # (stars only — sub-bucket pairing deferred to the rescue round);
    # small-bucket members in "rescue" mode (already paired in base).
    is_small = F.col("_n") <= max_group
    null_salt = F.lit(None).cast("long")
    if mode in ("all", "rescue"):
        n_sub = F.ceil(F.col("_n") / F.lit(max_group))
        hot_salt = F.pmod(
            F.xxhash64(F.col("id"), *[F.col(k) for k in keys], F.lit(SALT_SEED)),
            n_sub,
        )
    else:
        hot_salt = null_salt
    small_salt = F.lit(-1).cast("long") if mode in ("all", "base") else null_salt
    annotated = annotated.withColumn(
        "_salt", F.when(is_small, small_salt).otherwise(hot_salt)
    )
    skeys = [*keys, "_salt"]
    if mode == "base":
        # small buckets pair whole (_sn == _n) and hot members carry a NULL
        # salt (stars only), so the sub-bucket count — and its window sort —
        # is dead weight here; hot rows get NULL and are already excluded from
        # the pairing join by the _salt.isNotNull() filter below
        annotated = annotated.withColumn(
            "_sn", F.when(is_small, F.col("_n"))
        )
    else:
        sw = Window.partitionBy(*skeys)
        annotated = annotated.withColumn("_sn", F.count("*").over(sw))

    pairable = annotated.where(
        F.col("_salt").isNotNull()
        & (F.col("_sn") >= 2)
        & (F.col("_sn") <= F.lit(salt_cap * max_group))
    )
    left = pairable.select(
        *skeys, F.col("id").alias("id_a"),
        *[F.col(c).alias(f"{c}_a") for c in carry],
    )
    right = pairable.select(
        *skeys, F.col("id").alias("id_b"),
        *[F.col(c).alias(f"{c}_b") for c in carry],
    )
    pairs = (
        left.join(right, skeys).where(F.col("id_a") < F.col("id_b")).select(*out_cols)
    )
    keep_star = mode == "base"
    if keep_star:
        pairs = pairs.withColumn("is_star", F.lit(False))

    if mode in ("all", "base"):
        # hot buckets additionally emit the O(m) star backbone to the bucket min
        star = (
            annotated.where(~is_small)
            .where(F.col("id") != F.col("_mn.id"))
            .select(
                F.col("_mn.id").alias("id_a"),
                *[F.col(f"_mn.{c}").alias(f"{c}_a") for c in carry],
                F.col("id").alias("id_b"),
                *[F.col(c).alias(f"{c}_b") for c in carry],
            )
            .select(*out_cols)
        )
        if keep_star:
            star = star.withColumn("is_star", F.lit(star_flag))
        pairs = pairs.unionByName(star)

    if pair_filter is not None:
        pairs = pair_filter(pairs)
    if not keep_star:
        return canonical_pairs(pairs.select("id_a", "id_b"), dedup=dedup)
    # base mode: canonicalize keeping star provenance; dedup aggregates it (a
    # pair that is a star edge in ANY bucket keeps is_star=true — its rejection
    # must orphan the endpoints even if the same pair also arose small-bucket)
    out = pairs.select(
        F.least(F.col("id_a"), F.col("id_b")).alias("_a"),
        F.greatest(F.col("id_a"), F.col("id_b")).alias("_b"),
        F.col("is_star"),
    ).where(F.col("_a") < F.col("_b")).withColumnsRenamed({"_a": "id_a", "_b": "id_b"})
    if not dedup:
        return out
    return out.groupBy("id_a", "id_b").agg(F.max("is_star").alias("is_star"))


def driver_bucket_pairs(
    new: pa.Table, index: pa.Table, max_group: int
) -> list[tuple[str, str]] | None:
    """``bucket_candidates``' small-bucket pairs under an involves-new gate,
    on the driver, for one micro-batch's (id, band, bh) rows: ``new`` and the
    ``index`` rows of the buckets they touch. Every pair id_a < id_b inside a
    bucket with at least one new member, once, sorted. None when a bucket
    holds more than ``max_group`` rows: hot buckets are the Spark kernel's."""
    band, bh = (
        np.concatenate([t[c].to_numpy() for t in (new, index)]).astype(np.int64)
        for c in ("band", "bh")
    )
    order = np.lexsort((bh, band))
    sb, sh = band[order], bh[order]
    starts = np.r_[True, (sb[1:] != sb[:-1]) | (sh[1:] != sh[:-1])][: len(order)]
    bucket = np.empty_like(order)
    bucket[order] = np.cumsum(starts) - 1
    size = np.bincount(bucket)
    if size.size and size.max() > max_group:
        return None
    rows = np.flatnonzero(size[bucket] > 1)
    ids = pa.chunked_array([*new["id"].chunks, *index["id"].chunks], pa.string())
    buckets: dict[int, dict[str, bool]] = {}
    for r, i in zip(rows.tolist(), ids.take(rows).to_pylist()):
        if i is not None:
            is_new = buckets.setdefault(bucket[r], {})
            is_new[i] = is_new.get(i, False) or r < new.num_rows
    pairs = set()
    for is_new in buckets.values():
        pairs.update(
            (a, b) for a, b in combinations(sorted(is_new), 2)
            if is_new[a] or is_new[b]
        )
    return sorted(pairs)


def null_safe_group(df: DataFrame, group_col: str | None) -> DataFrame:
    """NULL-proof a caller-supplied group column before it becomes part of a
    bucket key. The bucket kernel's windows (``Window.partitionBy``) treat
    NULL as one group, but the pairing equi-join and the span pass's het
    semi-join use EqualTo semantics where NULL != NULL — so a NULL group
    value would count toward bucket sizes yet never pair: small NULL-group
    buckets silently emit nothing (a recall hole) while hot ones still emit
    star edges (the star projection bypasses the join). Coalescing to a
    ``\\x00``-prefixed sentinel makes NULL one ordinary group whose docs
    dedup among themselves. The cast to string only affects the bucket key;
    the group column never reaches the emitted pairs."""
    if group_col is None:
        return df
    return df.withColumn(
        group_col,
        F.coalesce(F.col(group_col).cast("string"), F.lit("\x00<null-group>")),
    )


def band_keys(cfg: DedupConfig):
    """JVM-side LSH band hash per band: xxhash64 over the band's signature
    slice. Returns one ``array<struct<band:int, bh:bigint>>`` column, parsed
    from a single SQL expression: building it term by term costs a py4j
    round trip per function, literal and alias (about 110 at 16 bands). No
    ``transform()`` lambda: higher-order functions are interpreted, and these
    terms are code-generated."""
    r = cfg.rows_per_band
    return F.expr("array({})".format(", ".join(
        f"named_struct('band', {i}, 'bh', "
        f"xxhash64(slice(`minhash`, {i * r + 1}, {r})))"
        for i in range(cfg.bands)
    )))


def explode_bands(
    signatures: DataFrame, cfg: DedupConfig, extra_cols: tuple[str, ...] = ()
) -> DataFrame:
    """signatures(url, minhash) -> (id, [extras...], band, bh); pure Catalyst
    explode. ``extra_cols`` ride along into the bucket key (e.g. a group column
    for per-forum-scoped dedup)."""
    return signatures.select(
        F.col("url").alias("id"), *extra_cols, F.inline(band_keys(cfg))
    )


def _with_orphan_flag(
    exploded: DataFrame, orphans: DataFrame | None, key_cols: tuple[str, ...]
):
    """Left-join an (id) orphan table onto an exploded bucket frame as a boolean
    ``is_orphan`` carry column, and drop every bucket containing NO orphan (a
    window max over the bucket key — the same exchange the downstream pairing
    windows use, so the restriction adds no shuffle). Returns (frame, carry,
    pair_filter) pieces for a rescue-mode bucket_candidates call. The orphan
    gate keeps only pairs with at least one orphan endpoint — pairs between two
    verified-connected members add no connectivity (see module docstring)."""
    from pyspark.sql import Window

    if orphans is None:
        return exploded, (), None
    flag = orphans.select(F.col("id"), F.lit(True).alias("is_orphan"))
    exploded = exploded.join(flag, "id", "left").withColumn(
        "is_orphan", F.coalesce(F.col("is_orphan"), F.lit(False))
    )
    w = Window.partitionBy(*key_cols)
    exploded = (
        exploded.withColumn("_bucket_has_orphan", F.max("is_orphan").over(w))
        .where(F.col("_bucket_has_orphan"))
        .drop("_bucket_has_orphan")
    )

    def orphan_gate(pairs: DataFrame) -> DataFrame:
        return pairs.where(F.col("is_orphan_a") | F.col("is_orphan_b"))

    return exploded, ("is_orphan",), orphan_gate


def minhash_lsh_candidates(
    signatures: DataFrame,
    cfg: DedupConfig,
    group_col: str | None = None,
    mode: str = "all",
    orphans: DataFrame | None = None,
) -> DataFrame:
    """MinHash-LSH candidate pairs: collide in >= 1 of ``cfg.bands`` bands,
    not deduplicated (``candidate_stage`` dedups both families once).
    With ``group_col``, the group is part of the bucket key, so candidates never
    cross groups — the reference's per-forum runs (SURVEY U1) as one job, no
    driver loop over forums. ``mode``/``orphans``: see ``bucket_candidates``."""
    extras = (group_col,) if group_col else ()
    signatures = null_safe_group(signatures, group_col)
    bands = explode_bands(signatures, cfg, extras)
    bands, ocarry, ogate = _with_orphan_flag(bands, orphans, (*extras, "band", "bh"))
    return bucket_candidates(
        bands,
        "id",
        (*extras, "band", "bh"),
        max_group=cfg.max_band_group,
        dedup=False,
        carry_cols=ocarry,
        pair_filter=ogate,
        mode=mode,
    )


def simhash_piece_keys(cfg: DedupConfig):
    """Pigeonhole pieces: to find all pairs with Hamming distance <= k, split the
    signature into k+1 pieces — any matching pair agrees exactly on >= 1 piece."""
    n_pieces = cfg.hamming_k + 1
    width = SIMHASH_BITS // n_pieces
    mask = (1 << width) - 1
    return [
        F.struct(
            F.lit(j).alias("piece"),
            (
                F.shiftright(F.col("simhash"), j * width).bitwiseAND(F.lit(mask))
            ).alias("pv"),
        )
        for j in range(n_pieces)
    ]


def driver_piece_keys(simhash: np.ndarray, cfg: DedupConfig) -> np.ndarray:
    """``simhash_piece_keys``' piece values in numpy: (docs, k+1) int64, the
    same arithmetic shift and mask."""
    n_pieces = cfg.hamming_k + 1
    width = SIMHASH_BITS // n_pieces
    shifts = np.arange(n_pieces, dtype=np.int64) * width
    return (simhash.astype(np.int64)[:, None] >> shifts) & ((1 << width) - 1)


def bit_count(x: np.ndarray) -> np.ndarray:
    """Set bits per int64, as ``F.bit_count``: the Hamming distance of a xor."""
    bits = np.unpackbits(np.ascontiguousarray(x, np.int64).view(np.uint8))
    return bits.reshape(-1, 64).sum(axis=1, dtype=np.int64)


def simhash_candidates(
    signatures: DataFrame,
    cfg: DedupConfig,
    group_col: str | None = None,
    mode: str = "all",
    orphans: DataFrame | None = None,
) -> DataFrame:
    """SimHash candidates, not deduplicated: agree on >= 1 of k+1 pieces, then
    exact Hamming filter (bit_count of xor, JVM-side) <= k — applied uniformly
    to full pairs, star edges (vs the group-min's simhash), and salted
    sub-bucket pairs. Every pair this family emits is therefore ALREADY known
    Hamming-accepted; its stars carry ``is_star=false`` in base mode (hot
    SimHash piece buckets are typically 16-bit noise collisions — rejected
    stars there must not feed the orphan rescue round; see
    ``bucket_candidates``). ``group_col`` scopes buckets per group;
    ``mode``/``orphans``: see ``bucket_candidates``."""
    extras = (group_col,) if group_col else ()
    signatures = null_safe_group(signatures, group_col)
    pieces = signatures.select(
        F.col("url").alias("id"),
        *extras,
        F.col("simhash"),
        F.explode(F.array(*simhash_piece_keys(cfg))).alias("pk"),
    ).select(
        "id", *extras, "simhash",
        F.col("pk.piece").alias("piece"), F.col("pk.pv").alias("pv"),
    )
    pieces, ocarry, ogate = _with_orphan_flag(pieces, orphans, (*extras, "piece", "pv"))

    hamming_ok = (
        F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
        <= cfg.hamming_k
    )

    def hamming_gate(pairs: DataFrame) -> DataFrame:
        pairs = pairs.where(hamming_ok)
        return ogate(pairs) if ogate is not None else pairs

    return bucket_candidates(
        pieces,
        "id",
        (*extras, "piece", "pv"),
        max_group=cfg.max_band_group,
        dedup=False,
        carry_cols=("simhash", *ocarry),
        pair_filter=hamming_gate,
        mode=mode,
        star_flag=False,
    )


def all_pairs(docs: DataFrame) -> DataFrame:
    """Brute-force upper-triangle cross join over ``url`` — the reference's
    archive semantics (src/archive/MyReader.py:17-27). ONLY for tiny oracle
    fixtures; never at scale."""
    a = docs.select(F.col("url").alias("id_a"))
    b = docs.select(F.col("url").alias("id_b"))
    return a.crossJoin(b).where(F.col("id_a") < F.col("id_b"))
