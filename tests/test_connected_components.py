"""Connected-components correctness vs a union-find oracle, on adversarial graph
shapes (long paths stress iteration count; stars/cliques stress the star ops) and
random graphs, plus partitioning-invariance. Every case runs on BOTH paths: the
driver-side union-find (test-sized graphs take it by default) and the star loop
(forced with ``config.DRIVER_MAX_ROWS = 0``)."""

import random

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from cqaduplicatefind_spark import config
from cqaduplicatefind_spark.operators.connected_components import (
    _persistent_rdd_ids,
    attach_singletons,
    connected_components,
)

# config.DRIVER_MAX_ROWS per path: the default bound, and 0 (star loop only)
PATHS = {"driver": None, "star": 0}


def _cc(df, path, persisted=None, **kw):
    """Run one path and check it was the one taken: only the star loop hands
    out a checkpoint handle, only the driver path reports the node count."""
    persisted = [] if persisted is None else persisted
    stats: dict = {}
    with pytest.MonkeyPatch.context() as mp:
        if PATHS[path] is not None:
            mp.setattr(config, "DRIVER_MAX_ROWS", PATHS[path])
        out = connected_components(df, persisted=persisted, stats=stats, **kw)
    assert bool(persisted) == (path == "star") == ("nodes" not in stats)
    return out, stats


def _oracle(edges, nodes=None):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    out = {}
    for n in nodes if nodes is not None else list(parent):
        out[n] = find(n)
    # canonicalize to min member per component
    comp = {}
    for n, r in out.items():
        comp.setdefault(r, []).append(n)
    result = {}
    for members in comp.values():
        m = min(members)
        for n in members:
            result[n] = m
    return result


def _run(spark, edges, ddl="id_a string, id_b string"):
    """Assignment from both paths; they must agree exactly."""
    df = spark.createDataFrame(edges, ddl)
    got = {
        path: {r.id: r.cluster_id for r in _cc(df, path)[0].collect()}
        for path in PATHS
    }
    assert got["driver"] == got["star"]
    return got["driver"]


GRAPHS = {
    "path": [(f"n{i:03d}", f"n{i+1:03d}") for i in range(40)],
    "two_cliques": [
        (f"a{i}", f"a{j}") for i in range(5) for j in range(i + 1, 5)
    ] + [(f"b{i}", f"b{j}") for i in range(4) for j in range(i + 1, 4)],
    "star": [("hub", f"leaf{i:02d}") for i in range(20)],
    "reversed_path": [(f"n{i+1:03d}", f"n{i:03d}") for i in range(30)],
    "self_loops_and_dups": [("x", "y"), ("y", "x"), ("x", "x"), ("y", "z"), ("y", "z")],
}


@pytest.mark.parametrize("name", sorted(GRAPHS))
def test_known_graphs(spark, name):
    edges = GRAPHS[name]
    got = _run(spark, edges)
    nodes = {n for e in edges for n in e}
    assert got == _oracle(edges, nodes)


def test_random_graphs_vs_oracle(spark):
    rnd = random.Random(123)
    nodes = [f"v{i:04d}" for i in range(300)]
    edges = [
        (rnd.choice(nodes), rnd.choice(nodes)) for _ in range(250)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    got = _run(spark, edges)
    assert got == _oracle(edges, {n for e in edges for n in e})


def test_partitioning_invariance(spark):
    edges = GRAPHS["path"] + GRAPHS["star"]
    df1 = spark.createDataFrame(edges, "id_a string, id_b string").repartition(1)
    df17 = spark.createDataFrame(edges, "id_a string, id_b string").repartition(17)
    for path in PATHS:
        got1 = {r.id: r.cluster_id for r in _cc(df1, path)[0].collect()}
        got17 = {r.id: r.cluster_id for r in _cc(df17, path)[0].collect()}
        assert got1 == got17, path


def test_fixed_point_equivalence_adversarial(spark):
    """Pin the Kiveris fixed-point equivalence the convergence check relies on:
    alternating small_star(large_star(E)) eventually satisfies _is_star_forest
    on adversarial shapes (chains, duplicate-heavy, cliques) — i.e. an edge set
    stable under the alternation IS a star forest, so the strict functional/
    star checks can never raise on a stabilized set."""
    from cqaduplicatefind_spark.operators.connected_components import (
        _is_star_forest,
        _large_star,
        _small_star,
    )

    for name in ("path", "reversed_path", "self_loops_and_dups", "two_cliques"):
        edges = GRAPHS[name]
        cur = (
            spark.createDataFrame(edges, "id_a string, id_b string")
            .select(
                F.greatest("id_a", "id_b").alias("id_a"),
                F.least("id_a", "id_b").alias("id_b"),
            )
            .where(F.col("id_a") != F.col("id_b"))
            .distinct()
            .localCheckpoint()
        )
        for _ in range(30):
            if _is_star_forest(cur):
                break
            cur = _small_star(_large_star(cur)).localCheckpoint()
        assert _is_star_forest(cur), name
        # and once a star forest, the alternation maps it to itself
        again = _small_star(_large_star(cur))
        assert _is_star_forest(again), name
        got = set(map(tuple, cur.collect()))
        assert got == set(map(tuple, again.collect())), name


def test_converged_input_runs_zero_rounds(spark):
    """An input that is already an assignment table (member -> component-min)
    must pass the star-forest check immediately — the zero-round fast path the
    span pass relies on when re-clustering prior assignments."""
    from cqaduplicatefind_spark.operators.connected_components import _is_star_forest

    assign = [("b", "a"), ("c", "a"), ("z", "y")]
    cur = (
        spark.createDataFrame(assign, "id_a string, id_b string")
        .select(
            F.greatest("id_a", "id_b").alias("id_a"),
            F.least("id_a", "id_b").alias("id_b"),
        )
        .where(F.col("id_a") != F.col("id_b"))
        .distinct()
    )
    assert _is_star_forest(cur)
    got = _run(spark, assign)
    assert got == _oracle(assign, {n for e in assign for n in e})


def test_attach_singletons(spark):
    edges = [("a", "b")]
    df = spark.createDataFrame(edges, "id_a string, id_b string")
    ids = spark.createDataFrame([("a",), ("b",), ("c",)], "url string")
    for path in PATHS:
        assign = _cc(df, path)[0]
        full = {r.url: r.cluster_id for r in attach_singletons(ids, assign).collect()}
        assert full == {"a": "a", "b": "a", "c": "c"}, path


def test_driver_path_leaves_nothing_persisted(spark):
    """The driver path runs no checkpoint and persists nothing: the session's
    persistent-RDD set is unchanged and no release handle is handed out. It
    also reports the assignment size, which callers use instead of a count."""
    df = spark.createDataFrame(GRAPHS["two_cliques"], "id_a string, id_b string")
    before = _persistent_rdd_ids(spark)
    persisted: list = []
    out, stats = _cc(df, "driver", persisted=persisted)
    assert out.count() == stats["nodes"] == 9
    assert persisted == []
    assert _persistent_rdd_ids(spark) == before


def test_graphs_above_the_bound_run_the_star_loop(spark):
    edges = GRAPHS["path"]
    df = spark.createDataFrame(edges, "id_a string, id_b string")
    persisted: list = []
    stats: dict = {}
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(config, "DRIVER_MAX_ROWS", len(edges) - 1)
        out = connected_components(df, persisted=persisted, stats=stats)
    assert len(persisted) == 1 and stats == {}
    got = {r.id: r.cluster_id for r in out.collect()}
    assert got == _oracle(edges, {n for e in edges for n in e})


def _edge_sets(ids):
    """Random edge lists over ``ids``: chains and stars (in either orientation),
    plus random extra pairs — which bring duplicate and reversed pairs and
    self-loops."""
    nodes = st.lists(ids, min_size=1, max_size=12, unique=True)
    chain = nodes.map(lambda ns: list(zip(ns, ns[1:])))
    star = nodes.map(lambda ns: [(ns[0], n) for n in ns])
    flip = st.booleans()
    shape = st.tuples(st.one_of(chain, star), flip).map(
        lambda t: [(b, a) for a, b in t[0]] if t[1] else t[0]
    )
    pairs = st.lists(st.tuples(ids, ids), max_size=8)
    return st.tuples(st.lists(shape, max_size=3), pairs).map(
        lambda t: [e for es in t[0] for e in es] + t[1] + t[1][:2]
    )


# no surrogates: they cannot be encoded as UTF-8 for the JVM
UNICODE_IDS = st.text(
    st.characters(blacklist_categories=("Cs",)), min_size=1, max_size=4
)


@settings(max_examples=12, deadline=None, derandomize=True)
@given(edges=_edge_sets(UNICODE_IDS))
def test_paths_agree_on_random_unicode_graphs(spark, edges):
    """Differential: driver path, star loop and a pure-Python union-find give
    identical assignments (UTF-8 byte order and Python code-point order agree,
    so min-id labels match)."""
    got = _run(spark, edges)
    assert got == _oracle(edges, {n for e in edges for n in e if e[0] != e[1]})


@settings(max_examples=8, deadline=None, derandomize=True)
@given(edges=_edge_sets(st.integers(-(2**62), 2**62)))
def test_paths_agree_on_random_numeric_graphs(spark, edges):
    got = _run(spark, edges, "id_a long, id_b long")
    assert got == _oracle(edges, {n for e in edges for n in e if e[0] != e[1]})
