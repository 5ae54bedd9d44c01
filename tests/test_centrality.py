"""Independent third-formulation checks for the round-6 centrality
operators: pure-Python BFS / Brandes on small deterministic graphs, so a
shared-recurrence bug between the Spark operator and its unrolled SQL
oracle cannot hide (the Markov-attribution lesson from round 5)."""

from __future__ import annotations

from collections import defaultdict, deque

import pytest


def _bfs_dists(adj, s, max_hops):
    dist = {s: 0}
    q = deque([s])
    while q:
        u = q.popleft()
        if dist[u] >= max_hops:
            continue
        for v in adj[u]:
            if v not in dist:
                dist[v] = dist[u] + 1
                q.append(v)
    return dist


def _python_harmonic(edges, max_hops, scale=6):
    adj = defaultdict(list)
    nodes = set()
    for a, b in edges:
        adj[a].append(b)
        nodes.update((a, b))
    out = defaultdict(lambda: [0, 0])
    for s in nodes:
        for v, d in _bfs_dists(adj, s, max_hops).items():
            if d > 0:
                out[v][0] += round(10 ** scale / d)
                out[v][1] += 1
    return {v: tuple(x) for v, x in out.items()}


def _python_betweenness(edges, max_hops, scale=6):
    """Brandes with the SAME hop bound and per-level micro rounding as
    the operator contract (the rounding is part of the spec)."""
    adj = defaultdict(list)
    nodes = set()
    for a, b in set(edges):
        adj[a].append(b)
        nodes.update((a, b))
    factor = 10 ** scale
    bc = defaultdict(int)
    for s in nodes:
        levels = [{s: 1}]
        seen = {s}
        for _ in range(max_hops):
            nxt = defaultdict(int)
            for u, sig in levels[-1].items():
                for v in adj[u]:
                    if v not in seen:
                        nxt[v] += sig
            nxt = {v: c for v, c in nxt.items()}
            for v in list(nxt):
                if v in seen:
                    del nxt[v]
            if not nxt:
                break
            seen.update(nxt)
            levels.append(nxt)
        deltas = [dict.fromkeys(lv, 0) for lv in levels]
        for li in range(len(levels) - 2, -1, -1):
            for v, sv in levels[li].items():
                tot = 0
                for w in adj[v]:
                    if w in levels[li + 1]:
                        sw = levels[li + 1][w]
                        dw = deltas[li + 1][w]
                        tot += round((sv / sw) * (1.0 + dw / factor)
                                     * factor)
                deltas[li][v] = tot
        for li in range(1, len(levels)):
            for v, dm in deltas[li].items():
                bc[v] += dm
    return dict(bc)


def _edges():
    out = []
    for p in range(1, 60):
        out.append((p, (p * 7 + 13) % 60))
        out.append((p, (p * 3 + 41) % 60))
    return out


def test_harmonic_matches_python_bfs(spark):
    from server2_vector_search_server_spark.operators.graph import (
        harmonic_centrality,
    )

    edges = _edges()
    e = spark.createDataFrame(edges, "src long, dst long")
    nodes = (e.select("src").union(e.select("dst")).distinct()
             .withColumnRenamed("src", "v"))
    got = {r["node"]: (r["harmonic_micro"], r["n_reached"])
           for r in harmonic_centrality(e, nodes, max_hops=4).collect()}
    assert got == _python_harmonic(edges, 4)


def test_betweenness_matches_python_brandes(spark):
    from server2_vector_search_server_spark.operators.graph import (
        betweenness_centrality,
    )

    edges = _edges()
    e = spark.createDataFrame(edges, "src long, dst long")
    nodes = (e.select("src").union(e.select("dst")).distinct()
             .withColumnRenamed("src", "v"))
    got = {r["node"]: r["betweenness_micro"]
           for r in betweenness_centrality(e, nodes, max_hops=4).collect()}
    want = _python_betweenness(edges, 4)
    want = {k: v for k, v in want.items()}
    assert got == want


def test_betweenness_path_graph_exact(spark):
    """On a directed path a->b->c->d betweenness is exactly the pair
    counts: b sits on paths a->c, a->d; c on a->d, b->d. Closed-form,
    no recursion shared with the implementation."""
    from server2_vector_search_server_spark.operators.graph import (
        betweenness_centrality,
    )

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "src long, dst long")
    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 4)], "v long")
    got = {r["node"]: r["betweenness_micro"]
           for r in betweenness_centrality(e, nodes, max_hops=5).collect()}
    # delta contributions in micro units: node 2: from s=1 dependency
    # delta_1(2) = 1/1*(1+delta(3)); delta_1(3) = 1*(1+delta(4)) = 1e6...
    # interior values: B(2) = 2 pairs, B(3) = 2 pairs (micro 2e6 each)
    assert got[2] == 2_000_000 and got[3] == 2_000_000
    assert got.get(1, 0) == 0 and got.get(4, 0) == 0


def test_harmonic_guards(spark):
    from server2_vector_search_server_spark.operators.graph import (
        betweenness_centrality,
        harmonic_centrality,
    )

    e = spark.createDataFrame([(1, 2)], "src long, dst long")
    n = spark.createDataFrame([(1,)], "v long")
    with pytest.raises(ValueError, match="max_hops"):
        harmonic_centrality(e, n, max_hops=0)
    with pytest.raises(ValueError, match="max_hops"):
        betweenness_centrality(e, n, max_hops=0)


def _python_tarjan(edges):
    """Iterative Tarjan SCC — an algorithmically independent third
    formulation (the operator uses reachability closure; the oracle a
    recursive-CTE fixpoint; this is neither)."""
    from collections import defaultdict

    adj = defaultdict(list)
    nodes = set()
    for a, b in set(edges):
        adj[a].append(b)
        nodes.update((a, b))
    index = {}
    low = {}
    on_stack = set()
    stack = []
    out = {}
    counter = [0]
    for root in nodes:
        if root in index:
            continue
        work = [(root, 0)]
        while work:
            v, pi = work.pop()
            if pi == 0:
                index[v] = low[v] = counter[0]
                counter[0] += 1
                stack.append(v)
                on_stack.add(v)
            recurse = False
            for i in range(pi, len(adj[v])):
                w = adj[v][i]
                if w not in index:
                    work.append((v, i + 1))
                    work.append((w, 0))
                    recurse = True
                    break
                if w in on_stack:
                    low[v] = min(low[v], index[w])
            if recurse:
                continue
            if low[v] == index[v]:
                comp = []
                while True:
                    w = stack.pop()
                    on_stack.discard(w)
                    comp.append(w)
                    if w == v:
                        break
                cid = min(comp)
                for w in comp:
                    out[w] = cid
            if work:
                parent = work[-1][0]
                low[parent] = min(low[parent], low[v])
    return out


def test_scc_matches_python_tarjan(spark):
    from server2_vector_search_server_spark.operators.graph import (
        strongly_connected_components,
    )

    edges = _edges() + [(2, 1)]     # add a back edge to force a cycle
    e = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["scc_id"]
           for r in strongly_connected_components(e).collect()}
    assert got == _python_tarjan(edges)


def test_scc_simple_cycle_and_tail(spark):
    """1->2->3->1 is one SCC labeled 1; 3->4 leaves 4 alone."""
    from server2_vector_search_server_spark.operators.graph import (
        strongly_connected_components,
    )

    e = spark.createDataFrame([(1, 2), (2, 3), (3, 1), (3, 4)],
                              "src long, dst long")
    got = {r["node"]: r["scc_id"]
           for r in strongly_connected_components(e).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 4}


def test_dag_layers_chain_and_diamond(spark):
    """Chain 1->2->3 gives layers 0,1,2; diamond 1->{2,3}->4 gives 4 the
    LONGEST path (2), and a cycle raises (the convergence guard doubles
    as cycle detection)."""
    from server2_vector_search_server_spark.operators.graph import (
        dag_longest_path_layers,
    )

    chain = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    got = {r["node"]: r["layer"]
           for r in dag_longest_path_layers(chain).collect()}
    assert got == {1: 0, 2: 1, 3: 2}
    diamond = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 4), (3, 4), (2, 3)], "src long, dst long")
    got = {r["node"]: r["layer"]
           for r in dag_longest_path_layers(diamond).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 4: 3}
    cyc = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    with pytest.raises(RuntimeError, match="cycle"):
        dag_longest_path_layers(cyc, max_iter=8)


def test_bowtie_hand_graph(spark):
    """core = {1,2,3} cycle; 0 -> 1 is IN; 3 -> 4 is OUT; 9 isolated-ish
    (9 -> 10 chain disconnected from core) is OTHER."""
    from server2_vector_search_server_spark.operators.graph import (
        bowtie_decomposition,
    )

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (0, 1), (3, 4), (9, 10)],
        "src long, dst long")
    got = {r["node"]: r["region"]
           for r in bowtie_decomposition(e).collect()}
    assert got == {1: "CORE", 2: "CORE", 3: "CORE",
                   0: "IN", 4: "OUT", 9: "OTHER", 10: "OTHER"}


def test_harmonic_hop_bound_truncates(spark):
    """max_hops is a hard truncation: on a 4-chain with max_hops=2, node
    4 receives only from nodes 2 (1/2) and 3 (1/1) — node 1's 3-hop path
    is out of budget. Closed-form check of the bound semantics."""
    from server2_vector_search_server_spark.operators.graph import (
        harmonic_centrality,
    )

    e = spark.createDataFrame([(1, 2), (2, 3), (3, 4)],
                              "src long, dst long")
    n = spark.createDataFrame([(i,) for i in (1, 2, 3, 4)], "v long")
    got = {r["node"]: (r["harmonic_micro"], r["n_reached"])
           for r in harmonic_centrality(e, n, max_hops=2).collect()}
    assert got[4] == (1_500_000, 2)          # 1/1 + 1/2
    assert got[2] == (1_000_000, 1)          # only node 1
    assert got[3] == (1_500_000, 2)          # 2 at 1/1, 1 at 1/2


def test_reachability_closure_cycle_terminates(spark):
    """UNION-anti-join fixpoint terminates on cycles (states saturate),
    unlike a path-enumerating recursion."""
    from server2_vector_search_server_spark.operators.graph import (
        reachability_closure,
    )

    e = spark.createDataFrame([(1, 2), (2, 3), (3, 1)],
                              "src long, dst long")
    got = {(r["s"], r["node"]) for r in reachability_closure(e).collect()}
    assert got == {(a, b) for a in (1, 2, 3) for b in (1, 2, 3)}


def test_scc_empty_max_iter_guard(spark):
    from server2_vector_search_server_spark.operators.graph import (
        reachability_closure,
    )

    # a 5-chain needs 4 expansion rounds; max_iter=2 must raise, not
    # silently return a truncated closure
    e = spark.createDataFrame([(i, i + 1) for i in range(1, 5)],
                              "src long, dst long")
    import pytest as _pt
    with _pt.raises(RuntimeError, match="fixpoint"):
        reachability_closure(e, max_iter=2)


def test_round_loops_pay_one_counting_action_per_round(spark, spark_jobs):
    """Job budget on a 6-node chain (6 rounds each). A fixpoint round of
    dag_longest_path_layers is one lazy checkpoint plus one count of its
    change flags, and a reachability_closure level is one eager
    checkpoint plus isEmpty, the reached set being the union of the
    levels. Counts include adaptive execution's map-stage and broadcast
    jobs: measured 52 and 51; a second action per DAG round makes 64, a
    per-round checkpoint of the reached set 56."""
    from server2_vector_search_server_spark.operators.graph import (
        dag_longest_path_layers,
        reachability_closure,
    )

    chain = spark.createDataFrame([(i, i + 1) for i in range(5)],
                                  "src long, dst long")
    jobs = {"dag_longest_path_layers":
            spark_jobs(lambda: dag_longest_path_layers(chain)),
            "reachability_closure":
            spark_jobs(lambda: reachability_closure(chain))}
    assert jobs["dag_longest_path_layers"] <= 52, jobs
    assert jobs["reachability_closure"] <= 51, jobs
