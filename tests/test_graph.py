"""Connected-components tests (operators/graph.py)."""
from __future__ import annotations

import pytest

from server2_vector_search_server_spark.operators.graph import (
    component_summary,
    connected_components,
    connected_components_star,
)


def _cc(spark, pairs):
    edges = spark.createDataFrame(pairs, "src long, dst long")
    rows = connected_components(edges).collect()
    return {r["node"]: r["component"] for r in rows}


def test_chain_collapses_to_one_component(spark):
    """A path graph exercises multi-hop propagation (diameter > 1)."""
    got = _cc(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1}


def test_disjoint_components_keep_min_representative(spark):
    got = _cc(spark, [(10, 11), (11, 12), (20, 21), (30, 31), (31, 30)])
    assert got == {10: 10, 11: 10, 12: 10, 20: 20, 21: 20, 30: 30, 31: 30}


def test_direction_and_duplicates_irrelevant(spark):
    a = _cc(spark, [(2, 1), (3, 2), (3, 1), (2, 1)])
    b = _cc(spark, [(1, 2), (2, 3)])
    assert a == b == {1: 1, 2: 1, 3: 1}


def test_nonconvergence_raises(spark):
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 12)], "src long, dst long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iter=2)
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components_star(edges, max_rounds=1)


def test_component_summary_shape(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "src long, dst long")
    rows = component_summary(connected_components(edges)).collect()
    assert [(r["component"], r["n_members"], r["max_member"])
            for r in rows] == [(1, 3, 3), (7, 2, 8)]


def _cc_star(spark, pairs):
    edges = spark.createDataFrame(pairs, "src long, dst long")
    rows = connected_components_star(edges).collect()
    return {r["node"]: r["component"] for r in rows}


@pytest.mark.slow  # r11: driver-window tier, see OPTIMIZATION_r11.md
def test_star_matches_label_prop_on_random_graphs(spark):
    """Equivalence against the label-propagation implementation on several
    seeded random graphs (the two algorithms share only the contract)."""
    import random

    for seed in (7, 21, 99):
        rng = random.Random(seed)
        pairs = [(rng.randrange(40), rng.randrange(40)) for _ in range(45)]
        pairs = [(a, b) for a, b in pairs if a != b]
        assert _cc_star(spark, pairs) == _cc(spark, pairs)


def test_star_collapses_long_chain_quickly(spark):
    """A 64-node path: label propagation would need 63 rounds; the star
    algorithm must finish far under its round cap (log^2-ish)."""
    pairs = [(i, i + 1) for i in range(63)]
    got = _cc_star(spark, pairs)
    assert got == {i: 0 for i in range(64)}


def test_star_components_and_self_loops(spark):
    got = _cc_star(spark, [(5, 5), (5, 6), (10, 11), (12, 11)])
    assert got == {5: 5, 6: 5, 10: 10, 11: 10, 12: 10}


def test_triangle_count_normalizes_directed_and_reversed_edges(spark):
    """ADVICE r02: triangle_count must normalize edges itself (least/
    greatest + self-loop drop), so directed input, reversed duplicates, and
    loops cannot fabricate or miss triangles."""
    from server2_vector_search_server_spark.operators.graph import (
        triangle_count,
    )

    # one triangle {1,2,3} given as directed edges with a reversed
    # duplicate and a self-loop; plus a dangling edge 3-4
    messy = spark.createDataFrame(
        [(2, 1), (2, 3), (1, 3), (3, 1), (2, 2), (3, 4)],
        "src long, dst long")
    got = {r["node"]: r["n_triangles"] for r in triangle_count(messy).collect()}
    assert got == {1: 1, 2: 1, 3: 1}

    # same graph pre-normalized must agree exactly
    clean = spark.createDataFrame([(1, 2), (2, 3), (1, 3), (3, 4)],
                                  "src long, dst long")
    got_clean = {r["node"]: r["n_triangles"]
                 for r in triangle_count(clean).collect()}
    assert got_clean == got


def test_bucketed_knn_graph_recalls_exact_edges(spark):
    """The shared-cell construction recovers most exact k-NN edges on the
    fixture slice (boundary losses bounded by nprobe), and every bucketed
    edge is normalized src<dst like the exact form."""
    from pyspark.sql import functions as F

    from server2_vector_search_server_spark.operators.graph import (
        knn_graph,
        knn_graph_bucketed,
    )

    emb = (spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
           .filter(F.col("vec_id") < 150).select("vec_id", "embedding"))
    cent = (emb.filter(F.col("vec_id") < 8)
            .select(F.col("vec_id").alias("centroid_id"),
                    F.col("embedding").alias("centroid")))
    exact = {(r["src"], r["dst"])
             for r in knn_graph(emb, k=3).collect()}
    bucketed = {(r["src"], r["dst"])
                for r in knn_graph_bucketed(emb, cent, k=3,
                                            nprobe=2).collect()}
    assert all(s < d for s, d in bucketed)
    recall = len(exact & bucketed) / len(exact)
    assert recall >= 0.5, recall


def test_beam_search_finds_query_neighborhood(spark):
    """Walking from a far entry point still reaches the query's true
    nearest neighbor when the graph is connected enough (beam > degree)."""
    from pyspark.sql import functions as F

    from server2_vector_search_server_spark.operators.graph import (
        beam_search_knn,
        knn_graph,
    )
    from server2_vector_search_server_spark.operators.knn import knn_topk

    emb = (spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
           .filter(F.col("vec_id") < 100).select("vec_id", "embedding"))
    qv = emb.filter(F.col("vec_id") == 42).first()["embedding"]
    edges = knn_graph(emb, k=6)
    got = beam_search_knn(emb, edges, qv, k=3, beam=8, hops=4,
                          entry_ids=(0,)).collect()
    assert got[0]["vec_id"] == 42          # self-match reachable
    exact = {r["vec_id"]: r["score"]
             for r in knn_topk(emb, qv, k=100, threshold=None).collect()}
    for r in got:                          # scores agree with brute force
        assert r["score"] == exact[r["vec_id"]]


def test_pagerank_auto_switch_matches_broadcast(spark, monkeypatch):
    """Auto mode with a tiny _BROADCAST_NODE_LIMIT must take the big-graph
    branch (lazy repartition, no second edge checkpoint) and produce
    EXACTLY the broadcast branch's ranks — strategy only moves rows."""
    from server2_vector_search_server_spark.operators import graph as G
    from server2_vector_search_server_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("d", "a")],
        "src string, dst string")
    small = {(r["node"], r["pr"])
             for r in pagerank(edges, iterations=3).collect()}
    monkeypatch.setattr(G, "_BROADCAST_NODE_LIMIT", 1)
    auto_big = {(r["node"], r["pr"])
                for r in pagerank(edges, iterations=3).collect()}
    forced = {(r["node"], r["pr"])
              for r in pagerank(edges, iterations=3,
                                broadcast_ranks=False).collect()}
    assert small == auto_big == forced and len(small) == 4


def test_hits_branches_identical(spark, tables, monkeypatch):
    """Both HITS execution strategies (broadcast scores vs pre-partitioned
    edges + shuffled scores) must produce bit-identical scores — strategy
    moves rows, never arithmetic (the pagerank branch-equality contract)."""
    from server2_vector_search_server_spark.operators import graph as G
    from server2_vector_search_server_spark.operators.graph import hits

    edges = spark.createDataFrame(
        [(f"s{i % 7}", f"c{(i * 3) % 11}") for i in range(40)],
        "src string, dst string").distinct()
    a = {(r["node"], r["hub"], r["authority"])
         for r in hits(edges).collect()}
    monkeypatch.setattr(G, "_BROADCAST_NODE_LIMIT", 0)
    b = {(r["node"], r["hub"], r["authority"])
         for r in hits(edges).collect()}
    assert a == b and len(a) > 0


def test_label_propagation_branches_identical(spark, tables, monkeypatch):
    from server2_vector_search_server_spark.operators import graph as G
    from server2_vector_search_server_spark.operators.graph import (
        label_propagation,
    )

    edges = spark.createDataFrame(
        [(f"n{i}", f"n{(i * 2 + 1) % 23}") for i in range(40)],
        "src string, dst string").distinct()
    a = {(r["node"], r["label"]) for r in
         label_propagation(edges).collect()}
    monkeypatch.setattr(G, "_BROADCAST_NODE_LIMIT", 0)
    b = {(r["node"], r["label"]) for r in
         label_propagation(edges).collect()}
    assert a == b and len(a) > 0


@pytest.mark.slow  # r11: driver-window tier, see OPTIMIZATION_r11.md
def test_argument_guards_raise_clear_errors(spark):
    """ADVICE r5: empty PPR seed sets, zero-iteration HITS, and an
    over-budget exact knn_graph must fail loudly at the API boundary,
    never as a driver-side ZeroDivisionError / AttributeError or a
    silently-scheduled O(n^2) cross join."""
    from server2_vector_search_server_spark.operators.graph import (
        hits,
        knn_graph,
        personalized_pagerank,
    )

    edges = spark.createDataFrame([(1, 2), (2, 3)], "src int, dst int")
    empty = spark.createDataFrame([], "node int")
    with pytest.raises(ValueError, match="restart_nodes is empty"):
        personalized_pagerank(edges, empty)
    with pytest.raises(ValueError, match="iterations"):
        personalized_pagerank(edges,
                              spark.createDataFrame([(1,)], "node int"),
                              iterations=0)
    with pytest.raises(ValueError, match="iterations"):
        hits(edges, iterations=0)
    vecs = spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(10)],
        "vec_id int, embedding array<double>")
    with pytest.raises(ValueError, match="max_rows"):
        knn_graph(vecs, k=2, max_rows=5)
    # within budget still works
    assert knn_graph(vecs, k=1, max_rows=10).count() > 0


def test_k_core_peels_to_fixpoint(spark):
    """Triangle + pendant chain: the 2-core is exactly the triangle (the
    chain peels over two rounds — node 4 first, then node 3), and the
    3-core is empty. Also pins the undirected/self-loop/dup edge
    normalization."""
    from server2_vector_search_server_spark.operators.graph import k_core

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0),     # triangle
         (2, 3), (3, 4),             # pendant chain (peels in 2 rounds)
         (1, 0),                     # duplicate reversed edge
         (4, 4)],                    # self-loop: dropped
        "src long, dst long")
    core2 = sorted((r["a"], r["b"]) for r in k_core(edges, 2).collect())
    assert core2 == [(0, 1), (0, 2), (1, 2)]
    assert k_core(edges, 3).count() == 0


def test_k_core_deep_peeling_chain_terminates(spark):
    """ADVICE r7: a long pendant path peels only ~2 nodes per round, so
    the old fixed default cap (50) raised RuntimeError on legitimate
    ~120-node paths. The default is now bounded by the INITIAL edge
    count (each non-fixpoint round removes >= 1 edge, so that bound can
    never fire on a terminating input). Pin the semantics on a small
    path — 12 edges, 6 peel rounds, deeper than an explicit cap of 3 —
    rather than a 100-node chain (every round is a Spark job)."""
    from server2_vector_search_server_spark.operators.graph import k_core

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "src long, dst long")
    assert k_core(edges, 2).count() == 0   # default cap: never raises
    import pytest as _pytest
    with _pytest.raises(RuntimeError, match="fixpoint"):
        k_core(edges, 2, max_iter=3)       # explicit cap still enforced


@pytest.mark.slow  # r11: driver-window tier, see OPTIMIZATION_r11.md
def test_k_core_degree_state_equivalence(spark):
    """SCALE §61.1: the node-state peel (static adjacency + per-round
    degree decrements) must return EXACTLY the edge-set of the
    re-aggregating peel — on the pinned fixture and on seeded random
    graphs across k, including cores that peel to empty."""
    import random

    from server2_vector_search_server_spark.operators.graph import (
        k_core, k_core_degree_state)

    fixture = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (1, 0), (4, 4)],
        "src long, dst long")
    for k in (1, 2, 3):
        want = sorted((r["a"], r["b"]) for r in k_core(fixture, k).collect())
        got = sorted((r["a"], r["b"])
                     for r in k_core_degree_state(fixture, k).collect())
        assert got == want, f"fixture k={k}"

    rng = random.Random(61)
    for trial in range(3):
        n, m = 30, 70
        pairs = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        edges = spark.createDataFrame(pairs, "src long, dst long")
        for k in (2, 3, 4):
            want = sorted((r["a"], r["b"])
                          for r in k_core(edges, k).collect())
            got = sorted((r["a"], r["b"])
                         for r in k_core_degree_state(edges, k).collect())
            assert got == want, f"trial={trial} k={k}"


def test_k_core_degree_state_deep_chain(spark):
    """The pendant-path worst case that motivated the default-cap fix on
    the peel: the node-state variant terminates under its node-count
    default cap and honors an explicit max_iter."""
    import pytest as _pytest

    from server2_vector_search_server_spark.operators.graph import (
        k_core_degree_state)

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "src long, dst long")
    assert k_core_degree_state(edges, 2).count() == 0
    with _pytest.raises(RuntimeError, match="fixpoint"):
        k_core_degree_state(edges, 2, max_iter=3)
