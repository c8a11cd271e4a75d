"""Hot-band skew guard (star pairing keeps pair volume linear in the bucket
size — the property that survives boilerplate pages colliding at 10^12-doc
scale) and the zero-shingle sentinel guard."""

from __future__ import annotations

from pyspark.sql import functions as F

from cqaduplicatefind_spark.config import DedupConfig
from cqaduplicatefind_spark.operators.verify import accept_edges, score_pairs
from cqaduplicatefind_spark.plans.pipeline import (
    candidate_stage,
    run_pipeline,
    signature_stage,
)


def _cfg(**kw):
    base = dict(shingle_k=3, jaccard_threshold=0.7,
                shuffle_partitions=8, signature_partitions=8)
    base.update(kw)
    return DedupConfig(**base)


def test_hot_band_emits_linear_pairs_not_quadratic(spark):
    """500 byte-identical docs collide in EVERY band and every simhash piece.
    Full pairing would emit C(500,2)=124_750 distinct pairs; the star cap +
    salted sub-buckets must keep total candidate pairs O(m): per bucket
    membership a member pays at most (max_band_group - 1) sub-bucket
    comparisons + 1 star edge, so distinct pairs <= m * (bands + pieces)
    * max_band_group."""
    m = 500
    text = "the same boilerplate template page body " + " ".join(
        f"tok{j}" for j in range(30)
    )
    pages = spark.createDataFrame(
        [(f"u{i:04d}", text) for i in range(m)], "url string, text string"
    )
    cfg = _cfg(max_band_group=4)
    sigs = signature_stage(pages, cfg).persist()
    try:
        pairs = candidate_stage(sigs, cfg)
        n_pairs = pairs.count()
        n_buckets = cfg.bands + cfg.hamming_k + 1  # 16 bands + 4 simhash pieces
        bound = m * n_buckets * cfg.max_band_group  # 40_000 << C(500,2)=124_750
        assert n_pairs < bound, f"pair blowup: {n_pairs} pairs for {m} docs"

        # connectivity preserved: verify + CC still put ALL m docs in ONE cluster
        result = run_pipeline(spark, pages, cfg)
        sizes = result.clusters.groupBy("cluster_id").count().collect()
        assert len(sizes) == 1 and sizes[0]["count"] == m
        result.signatures.unpersist()
    finally:
        sigs.unpersist()


def test_hot_bucket_emits_member_member_pairs_via_salted_sub_buckets(spark):
    """A heterogeneous hot bucket (one bucket key, 64 members > max_group=8) must
    emit pairs BETWEEN non-min members — star edges alone lose a true dup pair
    whose (min, member) edges fail exact verify. Structure checks: every pair is
    a star edge or lies within one salted sub-bucket, and volume stays linear."""
    from cqaduplicatefind_spark.operators.candidates import bucket_candidates

    m, max_group = 64, 8
    buckets = spark.createDataFrame(
        [(f"u{i:02d}", "B") for i in range(m)], "id string, bucket string"
    )
    pairs = bucket_candidates(
        buckets, "id", ("bucket",), max_group=max_group, salt_cap=8
    ).collect()
    min_id = "u00"
    member_member = [(a, b) for a, b in pairs if a != min_id and b != min_id]
    # pigeonhole: 64 ids into ceil(64/8)=8 sub-buckets -> some sub-bucket has >= 2
    assert member_member, "no member-member pairs emitted from the hot bucket"
    # linear volume: stars (m-1) + sub-bucket full pairs (expected size 8)
    assert len(pairs) <= (m - 1) + m * max_group
    # every non-star pair must come from one salt sub-bucket: reproduce the salt
    salted = (
        buckets.select(
            "id",
            F.pmod(
                F.xxhash64(F.col("id"), F.col("bucket"), F.lit(17)),
                F.lit(m // max_group),
            ).alias("salt"),
        )
        .collect()
    )
    salt_of = {r["id"]: r["salt"] for r in salted}
    for a, b in member_member:
        assert salt_of[a] == salt_of[b], f"pair ({a},{b}) crosses sub-buckets"


def test_heterogeneous_hot_bucket_true_pairs_cluster_correctly(spark):
    """A boilerplate template family (every doc shares a long shell, so LSH bands
    driven by shell shingles go hot) containing 25 true duplicate couples whose
    similarity to the family min is BELOW threshold: the pipeline must pair each
    couple in its own cluster — neither one mega-cluster (stars must fail verify)
    nor all-singletons (the couple's pairs must survive the hot-bucket cap)."""
    shell = " ".join(f"boiler{j} frame{j}" for j in range(40))
    rows = []
    for i in range(25):
        unique = " ".join(f"payload{i}w{j} item{i}x{j}" for j in range(40))
        rows.append((f"a{i:02d}", f"{shell} {unique}"))
        rows.append((f"b{i:02d}", f"{shell} {unique}"))
    pages = spark.createDataFrame(rows, "url string, text string")
    # span_pass off: the exact-span stage would (correctly) link every doc via
    # the shared 80-token shell — this test isolates the LSH hot-bucket path
    cfg = _cfg(max_band_group=4, jaccard_threshold=0.9, span_pass=False)
    result = run_pipeline(spark, pages, cfg)
    clusters = {r["url"]: r["cluster_id"] for r in result.clusters.collect()}
    for i in range(25):
        assert clusters[f"a{i:02d}"] == clusters[f"b{i:02d}"], f"couple {i} split"
    assert len(set(clusters.values())) == 25, (
        f"expected 25 couple-clusters, got {len(set(clusters.values()))}"
    )


def test_short_docs_never_link_via_sentinel_signatures(spark):
    """Docs with fewer than shingle_k tokens share the all-MAX_U64 sentinel
    MinHash and simhash=0. They must NOT become candidates (band explode excludes
    them) and must NOT pass the MinHash prefilter (est_jaccard forced to 0) —
    previously every pair of short docs scored est_jaccard=1.0 and merged into
    one giant false cluster."""
    pages = spark.createDataFrame(
        [
            ("s1", "red car"),          # 2 tokens < shingle_k=3 -> 0 shingles
            ("s2", "blue sky"),
            ("s3", "green"),
            ("s4", ""),
            ("d1", "a real document with plenty of tokens to shingle properly"),
            ("d2", "a real document with plenty of tokens to shingle properly"),
        ],
        "url string, text string",
    )
    cfg = _cfg()
    result = run_pipeline(spark, pages, cfg)
    try:
        cand = {tuple(r) for r in result.candidates.select("id_a", "id_b").collect()}
        shorts = ["s1", "s2", "s3", "s4"]
        assert not any(a in shorts or b in shorts for a, b in cand), (
            f"sentinel-signature docs became candidates: {cand}"
        )
        clusters = {
            r["url"]: r["cluster_id"] for r in result.clusters.collect()
        }
        # the two real duplicates cluster together; every short doc is a singleton
        assert clusters["d1"] == clusters["d2"]
        assert len({clusters[s] for s in shorts}) == len(shorts)

        # scored directly, every short pair still reads est_jaccard 0 and
        # is rejected
        pairs = spark.createDataFrame(
            [(a, b) for a in shorts for b in shorts if a < b],
            "id_a string, id_b string",
        )
        scored = score_pairs(pairs, result.signatures, cfg)
        assert {r["est_jaccard"] for r in scored.collect()} == {0.0}
        assert accept_edges(scored, cfg).count() == 0
    finally:
        result.release()


def test_hot_cluster_closure_stays_linear(spark):
    """A single huge cluster must not explode the transitive-closure pair
    emission: C(4000,2) ~ 8M full-closure pairs vs the size-guarded O(m)."""
    from cqaduplicatefind_spark.operators.metrics import clusters_to_pairs

    m = 4000
    assignments = spark.createDataFrame(
        [(f"u{i:05d}", "u00000") for i in range(m)], "url string, cluster_id string"
    )
    n = clusters_to_pairs(assignments, max_cluster_size=64).count()
    # stars (m-1) + salted sub-groups (expected size 64 -> ~m*63/2 max emission)
    assert n <= m * 64, f"closure blowup: {n} pairs for one {m}-member cluster"
    # small clusters keep the exact closure
    small = spark.createDataFrame(
        [(f"d{i}", "d0") for i in range(5)], "url string, cluster_id string"
    )
    assert clusters_to_pairs(small, max_cluster_size=64).count() == 10


def test_hot_gram_capped_in_ngram_jaccard(spark):
    """One ubiquitous 3-gram shared by 600 docs must not produce a quadratic
    group in the gram self-join: with DF cap it contributes nothing."""
    from cqaduplicatefind_spark.operators.ngram import doc_ngrams, ngram_jaccard_pairs

    m = 600
    rows = [(i, f"hot gram here tail{i}a tail{i}b tail{i}c") for i in range(m)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    grams = doc_ngrams(docs, 3, df_cap=50)
    # the hot gram is dropped (grams ride as xxhash64 — compare on the hash);
    # per-doc unique grams survive
    hot = F.xxhash64(F.lit("hot gram here"))
    assert grams.where(F.col("gh") == hot).count() == 0
    assert grams.count() > 0
    pairs = ngram_jaccard_pairs(docs, 3, min_jaccard=0.1, df_cap=50)
    assert pairs.count() == 0  # no remaining shared grams -> no quadratic group
    # and WITHOUT the cap the hot gram links everything (sanity that the cap
    # is what prevents the blowup, checked on a small slice)
    tiny = spark.createDataFrame(rows[:20], "doc_id long, text string")
    uncapped = ngram_jaccard_pairs(tiny, 3, min_jaccard=0.01, df_cap=None)
    assert uncapped.count() == 190  # C(20,2): every pair shares the hot gram


def test_ngram_containment_directed_asymmetric(spark):
    """A small doc embedded verbatim in a much larger doc has containment 1.0
    (inner=small) but low Jaccard — the directed query must emit exactly the
    small→large direction, not the reverse."""
    from cqaduplicatefind_spark.operators.ngram import ngram_containment_pairs

    inner_toks = [f"w{i}" for i in range(30)]
    outer_toks = inner_toks + [f"pad{i}" for i in range(300)]
    unrelated = [f"z{i}" for i in range(40)]
    docs = spark.createDataFrame(
        [
            (1, " ".join(inner_toks)),
            (2, " ".join(outer_toks)),
            (3, " ".join(unrelated)),
        ],
        "doc_id long, text string",
    )
    out = ngram_containment_pairs(
        docs, n=3, min_containment=0.9, min_grams=20, df_cap=None
    ).collect()
    assert len(out) == 1
    row = out[0]
    assert (row.inner_id, row.outer_id) == (1, 2)
    assert row.containment == 1.0
    # symmetric Jaccard would be ~28/330 — far below any dedup threshold,
    # which is exactly why the directed form exists
    # min_grams floors trivial containment: a 21-token doc has 19 grams < 20
    tiny = spark.createDataFrame(
        [(1, " ".join(inner_toks[:21])), (2, " ".join(outer_toks))],
        "doc_id long, text string",
    )
    assert (
        ngram_containment_pairs(
            tiny, n=3, min_containment=0.9, min_grams=20, df_cap=None
        ).count()
        == 0
    )
