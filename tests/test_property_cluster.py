"""Property test: ``dedup.cluster_pairs`` equals union-find on random
graphs.

The operator routes small candidate graphs to a driver union-find and
larger ones to hash-min label propagation, falling back to star
contraction; the reference is a 20-line driver-side disjoint-set
union.  Tests pin a route with ``_route``: the routes before it are
skipped and the routes that must not produce the answer raise.  Any
divergence (missed transitive closure, premature
convergence, singleton handling) shows up as a label mismatch on some
random graph.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from mapreduce_framework_for_mergesort_spark import sizing
from mapreduce_framework_for_mergesort_spark.operators import dedup as D


def _refuse(*_args):
    raise AssertionError("cluster_pairs took a route it must not take")


def _route(mp, route: str) -> None:
    """Pin ``cluster_pairs`` to ``route``: the driver ceiling drops to
    0 past ``driver_uf`` and hash-min reports its budget exhausted for
    ``star``; every route that must not answer raises.  A graph with no
    loop-free edge fits any ceiling, so it always takes ``driver_uf``."""
    if route == "driver_uf":
        mp.setattr(D, "_hashmin_labels", _refuse)
        mp.setattr(D, "_star_labels", _refuse)
        return
    mp.setattr(sizing, "DRIVER_UF_MAX_EDGES", 0)
    mp.setattr(D, "_driver_uf_labels", _refuse)
    if route == "hash_min":
        mp.setattr(D, "_star_labels", _refuse)
    else:
        mp.setattr(D, "_hashmin_labels", lambda edges, max_iters: None)


def _union_find(n_nodes: int, edges: list[tuple[int, int]]) -> dict[int, int]:
    parent = list(range(n_nodes))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    # canonical label = smallest node id in the component
    roots: dict[int, int] = {}
    for x in range(n_nodes):
        r = find(x)
        roots[r] = min(roots.get(r, r), x)
    return {x: roots[find(x)] for x in range(n_nodes)}


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    n_nodes=st.integers(min_value=1, max_value=24),
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=23),
            st.integers(min_value=0, max_value=23),
        ),
        max_size=30,
    ),
)
def test_cluster_pairs_matches_union_find(spark, n_nodes, edges):
    edges = [(u % n_nodes, v % n_nodes) for u, v in edges]
    nodes = spark.createDataFrame([(i,) for i in range(n_nodes)], ["doc_id"])
    if edges:
        pairs = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    else:
        pairs = spark.createDataFrame([], "doc_a: long, doc_b: long")
    got = {
        r["node"]: r["cluster"]
        for r in D.cluster_pairs(pairs, nodes=nodes).collect()
    }
    assert got == _union_find(n_nodes, edges)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    n_nodes=st.integers(min_value=1, max_value=24),
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=23),
            st.integers(min_value=0, max_value=23),
        ),
        max_size=30,
    ),
)
def test_star_contraction_matches_union_find(spark, n_nodes, edges):
    """The Kiveris-style alternating star contraction must reach the
    identical fixpoint as hash-min / union-find on random graphs
    (self-pairs, duplicate pairs, and reversed pairs included)."""
    edges = [(u % n_nodes, v % n_nodes) for u, v in edges]
    nodes = spark.createDataFrame([(i,) for i in range(n_nodes)], ["doc_id"])
    if edges:
        pairs = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    else:
        pairs = spark.createDataFrame([], "doc_a: long, doc_b: long")
    has_edges = any(u != v for u, v in edges)
    with pytest.MonkeyPatch.context() as mp:
        _route(mp, "star" if has_edges else "driver_uf")
        got = {
            r["node"]: r["cluster"]
            for r in D.cluster_pairs(pairs, nodes=nodes).collect()
        }
    assert got == _union_find(n_nodes, edges)


def _path_pairs(spark, n: int, shuffled_ids: list[int]):
    """Path graph over arbitrary node ids: id[i] — id[i+1]."""
    rows = [(shuffled_ids[i], shuffled_ids[i + 1]) for i in range(n - 1)]
    return spark.createDataFrame(rows, ["doc_a", "doc_b"])


def test_star_contraction_logarithmic_on_long_path(spark):
    """The round-3 failure mode: a diameter-400 path exhausts hash-min's
    budget (it needs ~400 rounds) but star contraction must converge in
    O(log d) — the VERDICT acceptance bound is ≤ ~7 rounds for
    diameter ≥ 100; we pin ≤ 10 for diameter 400 with adversarial
    (reversed) id order, where the min label sits at the far end.
    ``_star_labels`` raises ``RuntimeError`` past its round budget."""
    n = 401
    ids = list(range(n))[::-1]  # node 0 at the END of the path
    e = _path_pairs(spark, n, ids).selectExpr("doc_a AS u", "doc_b AS v")
    edges = e.union(e.selectExpr("v AS u", "u AS v"))
    labels = {
        r["node"]: r["cluster"] for r in D._star_labels(edges, 10).collect()
    }
    assert labels == {i: 0 for i in range(n)}


def test_long_path_falls_back_from_hash_min_to_star(spark, monkeypatch):
    """A long path exhausts hash-min's ``HASH_MIN_ROUNDS`` budget; the
    route must then fall back to star and return the exact answer,
    never a non-fixpoint (which would silently under-dedup)."""
    n = 101
    pairs = _path_pairs(spark, n, list(range(n))[::-1])
    # round 13: a graph this small takes the driver union-find fast path
    with pytest.MonkeyPatch.context() as mp:
        _route(mp, "driver_uf")
        labels = {
            r["node"]: r["cluster"]
            for r in D.cluster_pairs(pairs).collect()
        }
    assert labels == {i: 0 for i in range(n)}
    # the distributed star fallback must still engage when the graph
    # exceeds the driver ceiling — real hash-min runs out of rounds,
    # and star produces the answer
    monkeypatch.setattr(sizing, "DRIVER_UF_MAX_EDGES", 0)
    monkeypatch.setattr(D, "_driver_uf_labels", _refuse)
    star_calls = []
    star = D._star_labels
    monkeypatch.setattr(
        D, "_star_labels",
        lambda edges, max_iters: star_calls.append(max_iters)
        or star(edges, max_iters),
    )
    labels2 = {
        r["node"]: r["cluster"]
        for r in D.cluster_pairs(pairs).collect()
    }
    assert labels2 == labels
    assert star_calls == [D.STAR_ROUNDS]


def test_driver_uf_matches_distributed_on_mixed_graph(spark):
    """Round-13 fast path: the bounded driver union-find returns the
    identical min-label fixpoint as hash-min and star on a graph mixing
    cliques, a bridge, self-loops, and isolated nodes."""
    edges = (
        [(a, b) for c in range(5) for a in range(c * 7, c * 7 + 7)
         for b in range(a + 1, c * 7 + 7)]
        + [(6, 7), (20, 21), (50, 50)]
    )
    pairs = spark.createDataFrame(edges, "doc_a bigint, doc_b bigint")
    nodes = spark.range(0, 60).withColumnRenamed("id", "doc_id")
    outs = {}
    for route in ("driver_uf", "hash_min", "star"):
        with pytest.MonkeyPatch.context() as mp:
            _route(mp, route)
            rows = D.cluster_pairs(pairs, nodes=nodes).collect()
        outs[route] = sorted(map(tuple, rows))
    assert outs["driver_uf"] == outs["hash_min"] == outs["star"]
    assert len(outs["driver_uf"]) == 60  # every node labeled, singletons too
