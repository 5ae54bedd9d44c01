"""Graph operators over DataFrame edge lists.

- components: :func:`connected_components` (min-label propagation, the
  pair→group closure behind transitive dedup clustering),
  :func:`connected_components_star`, :func:`strongly_connected_components`
  and :func:`bowtie_decomposition` (both over :func:`reachability_closure`);
- cores: :func:`k_core`, :func:`k_core_degree_state`;
- ranking: :func:`pagerank`, :func:`personalized_pagerank`, :func:`hits`,
  :func:`label_propagation`;
- paths and centrality: :func:`shortest_paths`, :func:`harmonic_centrality`,
  :func:`betweenness_centrality`, :func:`dag_longest_path_layers`;
- neighborhood graphs: :func:`knn_graph`, :func:`knn_graph_bucketed`,
  :func:`beam_search_knn`, :func:`triangle_count`.

Checkpoint idiom, so no plan grows with its round count: a fixpoint runs
through :func:`_fixpoint` (a lazy checkpoint per round plus ONE counting
action on it that materializes it and decides convergence); a frontier BFS
runs through :func:`_bfs_levels` (eagerly checkpointed levels, the settled
set being their union); an edge table every round re-reads on one key is
pinned once with :func:`_pinned`, which keeps its hash partitioning.
Fixed-round loops (PageRank, HITS, label propagation, shortest paths, beam
search) have no convergence test and stay plain ``for`` loops.
"""

from __future__ import annotations

import logging
from functools import reduce
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_log = logging.getLogger(__name__)


def _fixpoint(state: DataFrame, step: Callable[[DataFrame], DataFrame],
              settled: Callable[[DataFrame, DataFrame], bool], *,
              max_iter: int, name: str, error: str) -> DataFrame:
    """Iterate ``state = step(state)`` until ``settled(new, old)``.

    Each round's frame is checkpointed lazily, and the first action of
    ``settled`` on it both materializes it and decides convergence: one
    counting action per round, not a checkpoint plus a test. Raises
    ``RuntimeError(error)`` once ``max_iter`` rounds are spent. Every
    hundredth round is logged: the peeling operators' default caps are
    provable bounds that never fire, so a deep loop is otherwise silent."""
    for round_no in range(1, max_iter + 1):
        new = step(state).localCheckpoint(eager=False)
        if settled(new, state):
            return new
        state = new
        if round_no % 100 == 0:
            _log.warning("%s: %d rounds so far without a fixpoint — a "
                         "deep chain; each round is one counting action",
                         name, round_no)
    raise RuntimeError(error)


def _flags_clear(new: DataFrame, _old: DataFrame) -> bool:
    """``settled`` for a step that flags each changed row in ``_chg``."""
    return new.filter("_chg").count() == 0


def _count_stable(n_rows: int):
    """``settled`` for state that only shrinks: the fixpoint is the first
    round that keeps every row. The previous count is remembered, so each
    round counts once."""
    def settled(new: DataFrame, _old: DataFrame) -> bool:
        nonlocal n_rows
        prev, n_rows = n_rows, new.count()
        return prev == n_rows

    return settled


def _bfs_levels(seed: DataFrame, edges: DataFrame, src: str,
                grow: Callable[[DataFrame, int], DataFrame], *,
                max_rounds: int, error: str | None = None) -> list:
    """Frontier BFS from ``seed`` (rows keyed by ``(s, node)``).

    Round ``hop`` joins the last level to ``edges`` on ``node == src``,
    lets ``grow(joined, hop)`` shape the next ``(s, node, ...)`` rows,
    keeps the pairs no earlier level settled (anti-join) and checkpoints
    them eagerly; an empty level ends the search. ``isEmpty`` on a cached
    level is a take over cached blocks, measured cheaper than the
    fixpoints' lazy checkpoint plus count (betweenness, sf0.1: +3.2% wall
    over 7 passes for the count, same 84 jobs). The settled set is the
    union of the checkpointed levels, one scan per level, so it needs no
    checkpoint of its own. Returns the levels, seed first; after
    ``max_rounds`` rounds raises ``RuntimeError(error)`` if ``error`` is
    given."""
    level = seed.localCheckpoint(eager=True)
    levels, settled = [level], level
    for hop in range(1, max_rounds + 1):
        reached = grow(level.join(edges, level["node"] == edges[src]), hop)
        seen = settled.selectExpr("s AS _ks", "node AS _kn")
        level = (reached.join(seen, F.expr("s = _ks AND node = _kn"),
                              "left_anti")
                 .localCheckpoint(eager=True))
        if level.isEmpty():
            return levels
        levels.append(level)
        settled = settled.unionByName(level)
    if error is not None:
        raise RuntimeError(error)
    return levels


def connected_components(edges: DataFrame, src: str = "src",
                         dst: str = "dst", *, max_iter: int = 25) -> DataFrame:
    """Resolve ``(src, dst)`` pairs into components.

    Returns ``(node, component)`` where ``component`` is the minimum node id
    reachable from ``node`` — a deterministic canonical representative,
    independent of partitioning and iteration order (min is idempotent,
    commutative, associative).

    Raises if ``max_iter`` rounds don't converge (diameter > max_iter means
    this graph wants the large-star/small-star variant instead).
    """
    bi = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
          .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
          .distinct())
    labels = (bi.select(F.col("a").alias("node")).distinct()
              .withColumn("component", F.col("node"))
              .localCheckpoint(eager=True))

    def relabel(labels: DataFrame) -> DataFrame:
        neighbor_min = (
            bi.join(labels, bi.b == labels.node)
            .groupBy("a").agg(F.min("component").alias("nbr_component")))
        return (labels.join(neighbor_min, labels.node == neighbor_min.a,
                            "left")
                .selectExpr(
                    "node",
                    "least(component, coalesce(nbr_component, component)) "
                    "AS component",
                    "coalesce(nbr_component, component) < component "
                    "AS _chg"))

    return _fixpoint(
        labels, relabel, _flags_clear, max_iter=max_iter,
        name="connected_components",
        error=f"connected_components did not converge in {max_iter} "
              "iterations; graph diameter too large for label propagation "
              "— use large-star/small-star").select("node", "component")


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star round: every node connects its strictly-larger neighbors
    to the minimum of its closed neighborhood."""
    bi = (edges.union(edges.select(F.col("dst").alias("src"),
                                   F.col("src").alias("dst"))))
    m = (bi.groupBy("src").agg(F.min("dst").alias("mn"))
         .select("src", F.least("mn", F.col("src")).alias("m")))
    return (bi.join(m, "src")
            .where(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .where(F.col("src") != F.col("dst"))
            .distinct())


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star round: orient edges to the larger endpoint, then every
    node connects its smaller-or-equal neighbors (and itself) to the
    minimum among them."""
    oriented = edges.select(F.greatest("src", "dst").alias("src"),
                            F.least("src", "dst").alias("dst"))
    m = (oriented.groupBy("src").agg(F.min("dst").alias("mn"))
         .select("src", F.least("mn", F.col("src")).alias("m")))
    out = (oriented.join(m, "src")
           .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
           .union(m.select(F.col("src"), F.col("m").alias("dst"))))
    return (out.where(F.col("src") != F.col("dst")).distinct())


def k_core(edges: DataFrame, k: int, *, src: str = "src",
           dst: str = "dst", max_iter: int | None = None) -> DataFrame:
    """The k-core of the undirected simple graph over ``edges`` (Seidman
    1983, public): iteratively peel every node whose degree in the
    CURRENT subgraph is < k, to fixpoint. Returns the core's undirected
    edge set ``(a, b)`` with ``a < b`` — the community-search primitive
    under influential-community queries (PAPERS.md: "An Optimal and
    Progressive Approach to Online Search of Top-K Influential
    Communities", VLDB 2018, whose communities are connected k-cores).

    Each round is one degree aggregate plus two semi-joins — shuffle ∝
    surviving edges, never node-pairs. Edge count strictly decreases
    every non-fixpoint round, so rounds are bounded by the INITIAL edge
    count and termination is guaranteed;
    ``max_iter`` defaults to that bound (``None``). Deep-peeling chains
    legitimately need many rounds — a pendant path of n nodes with k=2
    peels ~2 nodes per round, i.e. ~n/2 rounds (ADVICE r7) — so callers
    passing an explicit ``max_iter`` should size it to their graph's
    peeling depth, not treat the cap as a pathology guard. Isolated
    nodes never appear in any k ≥ 1 core, so returning edges loses
    nothing. At 100 TB the same peeling runs with the edge list
    hash-partitioned once. For DEEP peels (many rounds, edges ≫ nodes)
    prefer :func:`k_core_degree_state`, which iterates node-sized degree
    state instead of re-materializing edges — measured 2× faster in that
    regime and slower in this one (SCALE §68 regime split)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    bi = (edges.select(F.least(F.col(src), F.col(dst)).alias("a"),
                       F.greatest(F.col(src), F.col(dst)).alias("b"))
          .filter(F.col("a") != F.col("b"))
          .distinct().localCheckpoint(eager=False))
    n_edges = bi.count()
    if max_iter is None:
        max_iter = n_edges + 1

    def peel(bi: DataFrame) -> DataFrame:
        deg = (bi.select(F.col("a").alias("node"))
               .unionAll(bi.select(F.col("b").alias("node")))
               .groupBy("node").agg(F.count(F.lit(1)).alias("deg")))
        keep = deg.filter(F.col("deg") >= k).select("node")
        return (bi.join(keep.withColumnRenamed("node", "a"),
                        "a", "left_semi")
                .join(keep.withColumnRenamed("node", "b"),
                      "b", "left_semi")
                .select("a", "b"))

    return _fixpoint(bi, peel, _count_stable(n_edges), max_iter=max_iter,
                     name="k_core",
                     error=f"k_core did not reach a fixpoint in {max_iter} "
                           "rounds")


def k_core_degree_state(edges: DataFrame, k: int, *, src: str = "src",
                        dst: str = "dst",
                        max_iter: int | None = None) -> DataFrame:
    """Same contract as :func:`k_core` (returns the core's undirected
    ``(a, b)`` edge set with ``a < b``), but the ITERATED STATE is the
    per-node degree table, not the surviving edge list.

    Dispatch guidance (SCALE §68, measured): peel DEPTH is the criterion.
    On deep-peeling dense graphs (edges ≫ nodes, cascades over many
    rounds — social/web graphs with rich degeneracy structure) this
    variant wins ~2× because each round checkpoints node rows instead of
    edge rows and the pinned adjacency is only scanned.  On graphs whose
    core stabilizes in a round or two (the bipartite shipment graph at
    every measured decade) prefer :func:`k_core` — the upfront bidirected
    repartition and final core-reconstruction joins here are overhead a
    shallow peel never amortizes.

    Mechanics (Batagelj-Zaveršnik peeling carried distributively, public):
    the bidirected adjacency is hash-partitioned on ``node`` and pinned
    ONCE; each round filters the alive degree table for nodes under
    ``k``, routes one decrement per incident edge of each removed node
    through the static adjacency (an edge (u,v) is subtracted exactly
    once — the round its FIRST endpoint dies; a decrement aimed at an
    already-dead or same-round-dead neighbor lands on a row the alive
    filter already dropped), and checkpoints only the updated node-sized
    state. Rounds are bounded by the node count (every non-final round
    kills ≥1 node).

    Join strategy matters here: the state table inherits the adjacency's
    hash partitioning (groupBy on the same key; ``localCheckpoint``
    preserves output partitioning through ``LogicalRDD``), so the
    adjacency–removed join and both state-update joins are CO-PARTITIONED
    — no per-round exchange of the edge table, and NEVER a broadcast of
    the removed set (a first cut broadcast it; at the 10× corpus the
    first round removes millions of nodes and the driver-side collect
    made the variant 4.7× slower than the peel it was replacing). The
    only per-round shuffle is the decrement aggregation, sized by the
    removed nodes' incident edges. The induced core edge set is
    recovered with one final double semi-join."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    bi = (edges.select(F.least(F.col(src), F.col(dst)).alias("a"),
                       F.greatest(F.col(src), F.col(dst)).alias("b"))
          .filter(F.col("a") != F.col("b"))
          .distinct().localCheckpoint(eager=True))
    adj = (bi.select(F.col("a").alias("node"), F.col("b").alias("nbr"))
           .unionAll(bi.select(F.col("b").alias("node"),
                               F.col("a").alias("nbr")))
           .repartition("node")
           .localCheckpoint(eager=True))           # pinned once, never redone
    state = (adj.groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
             .localCheckpoint(eager=False))
    n_nodes = state.count()
    if max_iter is None:
        max_iter = n_nodes + 1

    def peel(state: DataFrame) -> DataFrame:
        removed = state.filter(F.col("deg") < k).select("node")
        dec = (adj.join(removed, "node")
               .groupBy(F.col("nbr").alias("node"))
               .agg(F.count(F.lit(1)).alias("dec")))
        return (state.join(removed, "node", "left_anti")
                .join(dec, "node", "left")
                .select("node",
                        (F.col("deg") - F.coalesce(F.col("dec"), F.lit(0)))
                        .alias("deg")))

    alive = _fixpoint(
        state, peel, _count_stable(n_nodes), max_iter=max_iter,
        name="k_core_degree_state",
        error=f"k_core_degree_state did not reach a fixpoint in {max_iter} "
              "rounds").select("node")
    return (bi.join(alive.withColumnRenamed("node", "a"), "a", "left_semi")
            .join(alive.withColumnRenamed("node", "b"), "b", "left_semi")
            .select("a", "b"))


def connected_components_star(edges: DataFrame, src: str = "src",
                              dst: str = "dst", *,
                              max_rounds: int = 40) -> DataFrame:
    """Connected components in O(log² n) rounds via alternating
    large-star / small-star (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14 — public algorithm): each round hooks
    whole subtrees onto neighborhood minima instead of walking one hop, so
    convergence no longer depends on graph DIAMETER. Same output contract
    as :func:`connected_components` — ``(node, component)`` with the min
    member id as representative; use this variant when chains/long paths
    are possible (label propagation needs diameter rounds, this needs
    ~log² n — measured in SCALE.md §12).

    Convergence test: the oriented edge set is a fixpoint of both phases
    (exact set comparison via two ``exceptAll``s on the shrinking edge
    list).
    """
    cur = (edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
           .where(F.col("src") != F.col("dst"))
           .distinct().localCheckpoint(eager=True))
    nodes = (cur.select(F.col("src").alias("node"))
             .union(cur.select(F.col("dst").alias("node")))
             .distinct().localCheckpoint(eager=True))

    def same_edges(new: DataFrame, old: DataFrame) -> bool:
        return new.exceptAll(old).isEmpty() and old.exceptAll(new).isEmpty()

    cur = _fixpoint(
        cur, lambda cur: _small_star(_large_star(cur)), same_edges,
        max_iter=max_rounds, name="connected_components_star",
        error=f"connected_components_star did not converge in {max_rounds} "
              "rounds")
    # fixpoint: cur is a star forest (node -> component min)
    parent = cur.groupBy("src").agg(F.min("dst").alias("component"))
    return (nodes.join(parent, nodes.node == parent.src, "left")
            .select("node",
                    F.coalesce("component", F.col("node")).alias("component")))


def component_summary(components: DataFrame) -> DataFrame:
    """Per-cluster rollup: size + id range, ordered for stable comparison."""
    return (components.groupBy("component")
            .agg(F.count(F.lit(1)).alias("n_members"),
                 F.max("node").alias("max_member"))
            .orderBy("component"))


# Below this many edge rows the pin is skipped: per-round re-exchange of
# a tiny materialized table costs LESS than the pin's shuffle + the loss
# of AQE coalescing on everything that reuses it (an elided exchange is
# also an elided coalesce, so a 32-way pinned scan runs every round's
# aggregates as 32 tiny tasks where AQE would have folded them to one).
# Interleaved A/B at sf0.1 (587k edges, local[32]): pinned 4.2 s /
# unpinned 3.6 s per pagerank call; at the §53 10× corpus (5.9M edges)
# the pin wins on both wall (9.4 → 6.5 s) and decade shuffle growth
# (24.6× → 12×). The gate is the measured crossover, same spirit as
# _BROADCAST_NODE_LIMIT.
_PIN_MIN_ROWS = 2_000_000

# Above this many nodes pagerank, hits and label_propagation stop
# broadcasting their node-sized rank/score/label table every round and
# exchange it against pre-partitioned edges instead: a per-round broadcast
# of a node-sized table is a scale-killer at 100× nodes (VERDICT r3).
_BROADCAST_NODE_LIMIT = 5_000_000


def _pinned(df: DataFrame, key, *, materialized: bool = False) -> DataFrame:
    """Materialize ``df`` once; hash-partition-and-PERSIST by ``key`` when
    it is big enough for the pin to pay (see ``_PIN_MIN_ROWS``).

    persist, NOT localCheckpoint, for the pinned branch: a checkpointed
    frame scans back as ``ExistingRDD``, which reports UNKNOWN
    outputPartitioning — every downstream join/aggregate keyed on
    ``key`` silently re-exchanges, defeating the pin entirely (caught by
    the §53/§54 plan audits: the 'pinned once' big-graph branches were
    re-shuffling the edge list EVERY round). ``InMemoryTableScan``
    preserves the partitioning (alias-aware), so EnsureRequirements
    elides those exchanges. The upstream plan (often a join+distinct)
    runs exactly once into the localCheckpoint; the count is then free
    and the pin shuffles only materialized rows (~0.35 s vs 1.1 s from
    the raw plan at sf0.1). Pass ``materialized=True`` when ``df`` is
    ALREADY checkpointed/persisted (hits passes its checkpointed edge
    table twice — re-checkpointing it would copy the full edge table
    into block storage once per call for nothing).

    Storage caveat: the persisted pin is dropped by
    ``spark.catalog.clearCache()`` (bench and the sweep call it per
    query), but localCheckpoint RDD blocks are NOT — they free only when
    the RDD is garbage-collected. That is the repo-wide localCheckpoint
    trade-off, not specific to this helper; on a real cluster swap in a
    reliable checkpoint WITH an explicit re-repartition if executor
    churn or storage pressure is a concern."""
    ck = df if materialized else df.localCheckpoint(eager=True)
    if ck.count() < _PIN_MIN_ROWS:
        return ck
    out = ck.repartition(key).persist()
    out.count()
    return out


def pagerank(edges: DataFrame, *, iterations: int = 3, damping: float = 0.85,
             src: str = "src", dst: str = "dst", scale: int = 12,
             broadcast_ranks: bool | None = None,
             out_deg: DataFrame | None = None,
             nodes: DataFrame | None = None,
             n_nodes: int | None = None) -> DataFrame:
    """Power-iteration PageRank with a FIXED iteration count, deterministic
    at any parallelism.

    Classic Pregel-style iteration re-expressed as DataFrame ops: each round
    is contribs = edges ⋈ prior contribs on src (the rank expression is
    folded into the join — round 1 needs no join at all, the initial rank
    being a constant), then a partial-aggregable SUM per dst; the node-sized
    rank table is materialized ONCE, after the last round. Dangling-node
    mass is dropped (the simplified PR variant) — documented, identical on
    both engines.

    Determinism contract: per-edge contributions are summed via the
    scaled-BIGINT exact-sum pattern (registry.exact_sum) and each round's
    rank is rounded to ``scale`` decimals, so shuffle order cannot perturb
    the fixpoint — the DuckDB oracle unrolls the same rounds as CTEs.
    Both join strategies below produce bit-identical ranks (strategy only
    moves rows, the arithmetic is order-free).

    TWO join strategies, auto-selected by node count (``broadcast_ranks``
    forces either; VERDICT r3 item: a per-round broadcast of a node-sized
    table is a scale-killer at 100× nodes):

    - small graphs (n ≤ ``_BROADCAST_NODE_LIMIT``): broadcast outdeg, ranks
      and contribs; the cached edge list is pinned hash(``dst``), so every
      round's contribution aggregate is EXCHANGE-FREE — rounds shuffle
      nothing at all (plan-audited).
    - big graphs: hash-partition the edge list by ``src`` ONCE (pinned
      cache — the in-memory scan reports hash(src) outputPartitioning, so
      every round's edges⋈ranks reuses it and only the node-sized ranks
      side exchanges); outdeg joins co-partitioned on the same key;
      contribs and the node join are plain shuffle joins. Per round: two
      node-sized exchanges, zero edge-sized ones.
    """
    # ONE edge-sized materialization: outdeg, nodes and every round derive
    # from e0, so the caller's edge plan (often a join+distinct) runs once.
    if broadcast_ranks is False:
        e0 = _pinned(edges.select(src, dst), F.col(src))
    else:
        # broadcast branch: ranks always arrive by broadcast, so the
        # rounds never need src co-location — pin hash(dst) instead and
        # every round's groupBy(node = dst) partial aggregate becomes
        # EXCHANGE-FREE (the cached scan's partitioning satisfies the
        # agg distribution through the alias; plan-audited). One edge
        # shuffle up front buys zero per-round shuffle; without it the
        # per-round map output is min(edges, nodes × map-tasks) —
        # measured 231 MB over 3 rounds at the §53 10× corpus, vs the
        # one-off ~94 MB repartition.
        e0 = _pinned(edges.select(src, dst), F.col(dst))
    # out_deg / nodes / n_nodes are deterministic node-sized reductions of
    # the edge set; a caller serving from a pre-aggregated silver artifact
    # (plans/graph_queries.shipment_silver, VERDICT r8 next-#3) passes them
    # in and the serve path skips two aggregations, a node-sized
    # localCheckpoint, and the count job entirely.
    internal_outdeg = out_deg is None
    if internal_outdeg:
        out_deg = e0.groupBy(src).agg(F.count(F.lit(1)).alias("outdeg"))
    if nodes is None:
        nodes = (e0.select(F.col(src).alias("node"))
                 .union(e0.select(F.col(dst).alias("node")))
                 .distinct().localCheckpoint(eager=True))
    n = n_nodes if n_nodes is not None else nodes.count()
    use_bcast = (broadcast_ranks if broadcast_ranks is not None
                 else n <= _BROADCAST_NODE_LIMIT)

    if use_bcast:
        # outdeg is node-sized -> broadcast, so the edge list never
        # shuffles; lazy on purpose — the checkpointed e0 rescan is cheap
        # and identical broadcast subtrees reuse within a job
        ed = e0.join(F.broadcast(out_deg), src)
    else:
        if broadcast_ranks is None:
            # auto mode discovered a big graph AFTER e0 was built
            # unpartitioned: add a lazy repartition — NOT a second
            # edge-sized checkpoint (code-review r4). All rounds execute
            # as one job, so the exchange over the checkpointed e0 runs
            # once and later rounds hit ReusedExchange.
            e0 = e0.repartition(F.col(src))
            if internal_outdeg:
                out_deg = e0.groupBy(src).agg(
                    F.count(F.lit(1)).alias("outdeg"))
        # co-located equi-join: e0 is pinned hash(src), groupBy(src) above
        # reuses the same key (shuffle_hash hint: outdeg is node-sized too
        # — Catalyst must not broadcast it on this branch either)
        ed = e0.join(out_deg.hint("shuffle_hash"), src)

    base = (1.0 - damping) / n
    factor = 10 ** scale

    def _pr_expr() -> Column:
        # the per-round rank, folded into the NEXT round's edge join:
        # pr_i(v) = round(base + d·contrib_i(v), scale), absent ⇒ base.
        # Bit-identical to materializing a node-sized rank table (same
        # rounding, same coalesce), but each round costs ONE join instead
        # of two — the nodes ⋈ contribs rank rebuild happens only once,
        # after the last round.
        return F.round(base + damping * F.coalesce("contrib", F.lit(0.0)),
                       scale)

    if iterations <= 0:
        # zero rounds = the uniform initial ranks (the pre-refactor
        # contract; the fold below needs at least one round to produce a
        # contrib table)
        return nodes.select(
            "node", F.round(F.lit(1.0 / n), scale).alias("pr"))

    contribs = None
    for _ in range(iterations):
        if contribs is None:
            # round 1: every source holds the uniform rank — a constant,
            # so the first round needs NO rank join at all
            j = ed.select(F.col(dst).alias("node"),
                          (F.round(F.lit(1.0 / n), scale)
                           / F.col("outdeg")).alias("c"))
        else:
            # shuffle_hash hint on the big-graph branch: without it
            # Catalyst's size estimate would quietly re-select broadcast
            # for a small test graph, making the strategy untestable — and
            # at real scale the whole point is that the node-sized contrib
            # table must NOT be broadcast
            cb = (F.broadcast(contribs) if use_bcast
                  else contribs.hint("shuffle_hash"))
            # LEFT join: sources with no inbound mass still rank `base`
            j = (ed.join(cb, ed[src] == cb["node"], "left")
                 .select(F.col(dst).alias("node"),
                         (_pr_expr() / F.col("outdeg")).alias("c")))
        contribs = (j.groupBy("node")
                    .agg((F.sum(F.round(F.col("c") * factor).cast("long"))
                          / float(factor)).alias("contrib")))
    cb = (F.broadcast(contribs) if use_bcast
          else contribs.hint("shuffle_hash"))
    return (nodes.join(cb, "node", "left")
            .select("node", _pr_expr().alias("pr")))


def knn_graph(vectors: DataFrame, k: int = 2, *,
              vec_col: str = "embedding", id_col: str = "vec_id",
              max_rows: int = 200_000) -> DataFrame:
    """Undirected k-nearest-neighbor graph over an embedding column: each
    vector contributes edges to its k nearest others (squared-L2, lowest-id
    tie-break), directions merged by (min, max) normalization. The
    neighborhood-graph construction behind SNN clustering and dedup-cluster
    analysis. Exact form (pairwise distances + per-source top-k window) for
    BOUNDED slices only — the contract is enforced: the input is counted
    and anything over ``max_rows`` raises, because the cross join is
    O(n²) and a 10⁸-row frame would silently schedule 10¹⁶ pair rows. At
    corpus scale use :func:`knn_graph_bucketed` (IVF-cell candidates) —
    same downstream graph shape, shuffle ∝ n·cell_size instead of n²."""
    from pyspark.sql import Window

    from server2_vector_search_server_spark.functions.vector import (
        squared_l2_sql,
    )

    n = vectors.count()
    if n > max_rows:
        raise ValueError(
            f"knn_graph: exact all-pairs form called on {n:,} rows "
            f"(max_rows={max_rows:,}); the cross join is O(n²) — use "
            "knn_graph_bucketed for corpus-scale inputs, or raise "
            "max_rows explicitly if the quadratic cost is intended")
    a = vectors.select(F.col(id_col).alias("_src"),
                       F.col(vec_col).alias("_va"))
    b = vectors.select(F.col(id_col).alias("_dst"),
                       F.col(vec_col).alias("_vb"))
    pairs = (a.crossJoin(b).filter(F.col("_src") != F.col("_dst"))
             .withColumn("_d", F.expr(
                 f"round({squared_l2_sql('_va', '_vb')}, 6)"))
             .select("_src", "_dst", "_d"))
    w = Window.partitionBy("_src").orderBy(F.col("_d").asc(),
                                           F.col("_dst").asc())
    nn = (pairs.withColumn("_rn", F.row_number().over(w))
          .filter(F.col("_rn") <= k))
    return (nn.select(F.least("_src", "_dst").alias("src"),
                      F.greatest("_src", "_dst").alias("dst"))
            .distinct())


def triangle_count(edges: DataFrame, *, src: str = "src",
                   dst: str = "dst") -> DataFrame:
    """Distributed triangle counting by the ordered-edge (node-iterator)
    join: with every edge normalized to src < dst, a wedge is
    e(a,b) ⋈ e(b,c) (which forces a < b < c — each triangle is built
    exactly once), closed by probing e(a,c). Two equi-joins, shuffle
    ∝ Σ deg(v)² wedges — the standard algorithm; at scale the orientation
    by degree (point each edge at the higher-degree endpoint) bounds the
    wedge count, and a broadcast of the edge set serves the closing probe.

    Returns one row per node with its triangle participation count.
    Edges are normalized here with least/greatest (matching knn_graph's
    output convention), so directed or unordered input is handled — a
    reversed duplicate collapses instead of fabricating extra wedges.
    Self-loops are dropped (a loop is never part of a triangle but would
    close spurious ones through the a<b<c chain).
    """
    e = (edges.select(F.least(F.col(src), F.col(dst)).alias("a"),
                      F.greatest(F.col(src), F.col(dst)).alias("b"))
         .filter(F.col("a") != F.col("b"))
         .distinct())
    ab = e
    bc = e.select(F.col("a").alias("b"), F.col("b").alias("c"))
    ac = e.select(F.col("a").alias("a"), F.col("b").alias("c"))
    tris = (ab.join(bc, "b")
            .join(ac, ["a", "c"])
            .select("a", "b", "c"))
    per_node = (tris.select(F.explode(F.array("a", "b", "c")).alias("node"))
                .groupBy("node")
                .agg(F.count(F.lit(1)).alias("n_triangles")))
    return per_node


def shortest_paths(edges: DataFrame, source, *, iterations: int = 8,
                   src: str = "src", dst: str = "dst",
                   weight: str = "w") -> DataFrame:
    """Single-source shortest paths by iterative relaxation (Bellman-Ford
    rounds as DataFrame ops). After k rounds the frontier holds the exact
    minimum distance over paths of ≤ k edges — the same quantity a
    hop-bounded recursive CTE enumerates, which is the oracle contract
    (`graph_shortest_paths`); run diameter-many rounds for the full
    fixpoint.

    Each round is one join (edges ⋈ current distances, distance side
    broadcast — node-sized) and one map-side-combinable MIN per node; the
    edge list is scanned once per round and never reshuffled (persist it,
    hash-partitioned by ``src`` at scale, same contract as pagerank).
    Integer weights ⇒ exact, order-free MIN — deterministic at any
    parallelism."""
    dist = edges.sparkSession.createDataFrame(
        [(int(source), 0)], f"node long, dist long")
    for _ in range(iterations):
        relaxed = (edges.join(F.broadcast(dist),
                              edges[src] == F.col("node"))
                   .select(F.col(dst).alias("node"),
                           (F.col("dist") + F.col(weight)).cast("long")
                           .alias("dist")))
        dist = (dist.unionByName(relaxed)
                .groupBy("node").agg(F.min("dist").alias("dist")))
    return dist


def beam_search_knn(
    vectors: DataFrame,
    edges: DataFrame,
    query_vec,
    k: int = 5,
    *,
    beam: int = 6,
    hops: int = 3,
    entry_ids=(0,),
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    score_decimals: int = 6,
) -> DataFrame:
    """Greedy beam search over a materialized k-NN graph — the distributed
    analog of the reference's actual index traversal (ChromaDB's HNSW
    walks a neighborhood graph from an entry point; Malkov & Yashunin,
    TPAMI'18 — public algorithm). Per hop: expand the frontier's
    neighbors, score candidates against the query, keep the ``beam`` best;
    after ``hops`` expansions, return the top-k of everything visited.

    Scale shape: the frontier is beam-sized (broadcast into each
    expansion), so every hop is one partition-prunable lookup join against
    the edge table (bucket/sort edges by ``src`` at build time and each
    hop touches only the frontier's buckets) plus a beam-sized score join
    — query cost is O(hops × beam × degree) EDGE ROWS, independent of
    corpus size, which is exactly the HNSW value proposition. Determinism:
    scores round to ``score_decimals``, all ranks tie-break on id, so the
    walk is reproducible and oracle-checkable hop for hop.
    """
    from server2_vector_search_server_spark.operators.knn import (
        exact_score,
        vector_literal_sql,
    )

    # materialize the graph ONCE: the walk references it every hop, and an
    # unmaterialized construction lineage would re-execute per hop (measured
    # 30-40 s vs <2 s at sf0.1). In deployment `edges` is a parquet table
    # and this is free; localCheckpoint is the in-session analog.
    edges = edges.select("src", "dst").localCheckpoint(eager=True)
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    score = exact_score(vector_literal_sql(query_vec), f"`{vec_col}`",
                        score_decimals)

    # The walk is inherently sequential and TINY: frontier ≤ beam ids,
    # expansions ≤ beam × degree — the bounded driver state every graph
    # index traversal keeps (HNSW holds exactly this in RAM). Each hop is
    # two id-pushdown lookups: neighbors of the frontier, then scores of
    # the candidates (row-group-prunable point fetches on id-sorted data).
    frontier = [int(i) for i in entry_ids]
    visited: set = set(frontier)
    for _ in range(hops):
        neigh = [r["dst"] for r in
                 sym.filter(F.col("src").isin(frontier))
                 .select("dst").distinct().collect()]
        cand = sorted(set(frontier) | set(neigh))
        visited.update(cand)
        ranked = (vectors.filter(F.col(id_col).isin(cand))
                  .select(F.col(id_col).alias("id"), score.alias("score"))
                  .orderBy(F.col("score").desc(), F.col("id").asc())
                  .limit(beam).collect())
        frontier = [r["id"] for r in ranked]
    return (vectors.filter(F.col(id_col).isin(sorted(visited)))
            .select(F.col(id_col).alias(id_col), score.alias("score"))
            .orderBy(F.col("score").desc(), F.col(id_col).asc())
            .limit(k))


def knn_graph_bucketed(
    vectors: DataFrame,
    centroids: DataFrame,
    k: int = 2,
    *,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "centroid",
) -> DataFrame:
    """The scale path :func:`knn_graph`'s docstring promises: candidate
    pairs come from shared IVF cells instead of the corpus cross join.
    Each vector registers in its ``nprobe`` nearest cells (the multi-probe
    trick applied to CONSTRUCTION — boundary neighbors share a cell with
    probability rising in nprobe), pairs are the within-cell equi-join,
    then the same per-source top-k + least/greatest normalization as the
    exact form. Shuffle volume is Σ(cell²)·nprobe², not corpus² — the
    NN-Descent-adjacent bucketed construction every billion-scale graph
    index uses (public technique, cf. Faiss IVF / Dong et al. WWW'11).
    Deterministic (argmin cells, rounded distances, id tie-breaks) and
    therefore oracle-checkable, unlike sampled NN-Descent."""
    from pyspark.sql import Window

    from server2_vector_search_server_spark.functions.vector import (
        squared_l2_sql,
    )

    # nprobe-nearest-cell membership as a NARROW projection: centroids are
    # driver-small literals, per-row (rounded-dist, cid) structs are
    # array_sorted and sliced — identical ranking to the window form
    # (ROUND ASC, cid ASC) with zero joins and zero shuffle. The
    # crossJoin+window form multiplied the corpus by n_cells and shuffled
    # it back down (SCALE.md §13's ivf_assign lesson; re-measured here:
    # the 40k×512-cell build spent minutes in that window alone).
    # CRITICAL shape: ONE transform over the codebook arrays (literal or
    # single broadcast row, size-picked by ann.codebook_transport_sql) —
    # NOT n_cells separate struct subtrees (that form blows the expression
    # tree out of codegen and evaluated 512 independent aggregates per
    # row; measured minutes vs seconds at 40k×512), and at 512×64 the
    # nested-literal build itself costs ~20 s of Py4J (SCALE.md §32).
    from server2_vector_search_server_spark.operators.ann import (
        codebook_transport_sql,
    )

    cent_rows = sorted(centroids.collect(),
                       key=lambda r: r[centroid_id_col])
    # ORDER MATTERS: repartition the bare vectors FIRST, attach the
    # codebook AFTER — repartitioning the joined frame would ship the
    # codebook columns through the exchange with every row (40k rows ×
    # 512×64 doubles ≈ 10 GB of shuffle; measured +25 s on this build).
    n_parts = vectors.sparkSession.sparkContext.defaultParallelism
    spread = vectors.repartition(n_parts, F.col(id_col))
    paired, vecs_sql, ids_sql = codebook_transport_sql(
        spread, cent_rows, centroid_id_col=centroid_id_col,
        centroid_vec_col=centroid_vec_col)
    cell_structs = F.expr(
        f"zip_with(transform({vecs_sql}, "
        f"c -> round({squared_l2_sql('c', f'`{vec_col}`')}, 6)), "
        f"{ids_sql}, (d, i) -> named_struct('d', d, 'cid', i))")
    # (cid, id) ONLY — the vector payload is re-joined per unique pair
    # later, never carried through the membership/pair shuffles. The
    # projection is the CPU-heavy step (higher-order functions evaluate
    # interpreted, n_cells×dim work per row): materialize it once
    # (localCheckpoint) or the self-join below computes it TWICE, and give
    # it the session's parallelism — membership inherits the input's
    # partitioning, and a single-file parquet scan would otherwise run the
    # whole projection on ONE core (§22 one-split gotcha; measured 200 s
    # single-task vs seconds wide at 40k×512).
    member = (paired.select(
                  F.col(id_col),
                  F.explode(F.slice(F.array_sort(cell_structs), 1, nprobe))
                  .alias("_m"))
              .select(F.col("_m.cid").alias("_cid"), F.col(id_col))
              .localCheckpoint(eager=True))
    # candidate generation carries ONLY ids: the within-cell join and the
    # cross-cell dedup shuffle 16-byte pairs, not 2x the vector payload —
    # distances are computed once per UNIQUE pair after the dedup, via two
    # id-equi joins back to the vectors (broadcast-or-shuffle by id)
    ids = member.select("_cid", F.col(id_col).alias("_vid"))
    pairs = (ids.join(ids.select(F.col("_cid"),
                                 F.col("_vid").alias("_other")), "_cid")
             .filter(F.col("_vid") != F.col("_other"))
             .select(F.col("_vid").alias("_src"),
                     F.col("_other").alias("_dst"))
             .distinct())
    va = vectors.select(F.col(id_col).alias("_src"),
                        F.col(vec_col).alias("_va"))
    vb = vectors.select(F.col(id_col).alias("_dst"),
                        F.col(vec_col).alias("_vb"))
    scored = (pairs.join(va, "_src").join(vb, "_dst")
              .select("_src", "_dst", F.expr(
                  f"round({squared_l2_sql('_va', '_vb')}, 6)").alias("_d")))
    w = Window.partitionBy("_src").orderBy(F.col("_d").asc(),
                                           F.col("_dst").asc())
    nn = (scored.withColumn("_rn", F.row_number().over(w))
          .filter(F.col("_rn") <= k))
    return (nn.select(F.least("_src", "_dst").alias("src"),
                      F.greatest("_src", "_dst").alias("dst"))
            .distinct())


def personalized_pagerank(edges: DataFrame, restart_nodes: DataFrame, *,
                          iterations: int = 3, damping: float = 0.85,
                          src: str = "src", dst: str = "dst",
                          scale: int = 12) -> DataFrame:
    """Topic-sensitive / Personalized PageRank (Haveliwala 2002, public
    algorithm): the restart mass returns to a PREFERENCE SET S instead of
    the uniform vector —

        pr_0(v)  = p(v)               (p uniform over S, 0 elsewhere)
        pr_i(v)  = round((1−d)·p(v) + d·Σ_{u→v} pr_{i−1}(u)/outdeg(u),
                         scale)

    Same determinism contract as :func:`pagerank` (scaled-BIGINT exact
    contribution sums, per-round rounding, fixed iteration count) so the
    DuckDB oracle unrolls the identical rounds. Dangling mass dropped (the
    simplified variant), like the base operator.

    Scale: the rank table is SPARSE — only nodes within ``iterations``
    hops of S carry mass, so for seed-local queries (the common PPR use:
    'related to THIS supplier') the per-round rank side is tiny and rides
    a broadcast join while the checkpointed edge list never shuffles. If
    S's reach is node-scale, the base operator's shuffle-branch strategy
    applies unchanged (hash-partition edges once, exchange only ranks).
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    e0 = edges.select(src, dst).localCheckpoint(eager=True)
    out_deg = e0.groupBy(src).agg(F.count(F.lit(1)).alias("outdeg"))
    ed = e0.join(F.broadcast(out_deg), src)
    seeds = (restart_nodes
             .select(F.col(restart_nodes.columns[0]).alias("node"))
             .distinct().localCheckpoint(eager=True))
    s_n = seeds.count()
    if s_n == 0:
        raise ValueError(
            "personalized_pagerank: restart_nodes is empty — the "
            "preference vector p is undefined (1/|S| with |S|=0); pass "
            "at least one seed node")
    pvec = seeds.select("node", F.lit(1.0 / s_n).alias("p"))
    factor = 10 ** scale
    ranks = pvec.select("node", F.round(F.col("p"), scale).alias("pr"))
    for _ in range(iterations):
        rb = F.broadcast(ranks)
        contribs = (ed.join(rb, ed[src] == rb["node"])
                    .select(F.col(dst).alias("node"),
                            (F.col("pr") / F.col("outdeg")).alias("c"))
                    .groupBy("node")
                    .agg((F.sum(F.round(F.col("c") * factor).cast("long"))
                          / float(factor)).alias("contrib")))
        ranks = (pvec.join(contribs, "node", "full_outer")
                 .select("node",
                         F.round((1.0 - damping)
                                 * F.coalesce("p", F.lit(0.0))
                                 + damping
                                 * F.coalesce("contrib", F.lit(0.0)),
                                 scale).alias("pr")))
    return ranks


def hits(edges: DataFrame, *, iterations: int = 2,
         src: str = "src", dst: str = "dst",
         scale: int = 12) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999, public algorithm) with a
    fixed iteration count and L1 normalization:

        h_i(u) = Σ_{u→v} a_{i−1}(v)   then  h_i ← round(h_i / Σ h_i, scale)
        a_i(v) = Σ_{u→v} h_i(u)       then  a_i ← round(a_i / Σ a_i, scale)

    a_0 = 1 on every destination node. L1 (not the classic L2) keeps every
    step rational — no sqrt in the normalizer — and scaled-BIGINT exact
    sums make both the per-node aggregates and the GLOBAL normalizer
    shuffle-order-free, so the DuckDB oracle unrolls identical rounds.
    On a bipartite graph (e.g. supplier→customer) hubs live on the source
    side and authorities on the destination side.

    Scale — the same strategy fork as :func:`pagerank` (a per-round
    broadcast of a node-sized table is a scale-killer at 100× nodes):

    - small graphs (n ≤ ``_BROADCAST_NODE_LIMIT``): broadcast the score
      tables; the edge list never shuffles.
    - big graphs: TWO pre-partitioned pinned edge caches — by ``dst`` for
      the hub step and by ``src`` for the authority step (the join key
      alternates, so one partitioning can't serve both) — then every
      round exchanges only the node-sized score tables (shuffle_hash
      hints pin the strategy). Two edge-sized exchanges total, paid once.

    The 1-row normalizers ride a broadcast on either branch. Returns
    (node, hub, authority) — 0.0 for the side the node is not on.
    """
    if iterations < 1:
        raise ValueError(
            f"hits: iterations must be >= 1, got {iterations} (with 0 "
            "rounds no hub vector exists — a_0 alone is not a result)")
    factor = 10 ** scale

    def _esum(col):
        return (F.sum(F.round(col * factor).cast("long")) / float(factor))

    e0 = edges.select(src, dst).localCheckpoint(eager=True)
    n = (e0.select(F.col(src).alias("node"))
         .union(e0.select(F.col(dst).alias("node"))).distinct().count())
    if n <= _BROADCAST_NODE_LIMIT:
        e_dst = e_src = e0
        _side = lambda df: F.broadcast(df)          # noqa: E731
    else:
        # materialized=True: e0 is already checkpointed
        e_dst = _pinned(e0, F.col(dst), materialized=True)
        e_src = _pinned(e0, F.col(src), materialized=True)
        _side = lambda df: df.hint("shuffle_hash")  # noqa: E731
    a = (e0.select(F.col(dst).alias("node")).distinct()
         .withColumn("score", F.lit(1.0)))
    h = None
    for _ in range(iterations):
        ab = _side(a)
        h_raw = (e_dst.join(ab, e_dst[dst] == ab["node"])
                 .groupBy(src).agg(_esum(F.col("score")).alias("raw")))
        h_tot = h_raw.agg(_esum(F.col("raw")).alias("tot"))
        h = (h_raw.crossJoin(F.broadcast(h_tot))
             .select(F.col(src).alias("node"),
                     F.round(F.col("raw") / F.col("tot"), scale)
                     .alias("score")))
        hb = _side(h)
        a_raw = (e_src.join(hb, e_src[src] == hb["node"])
                 .groupBy(dst).agg(_esum(F.col("score")).alias("raw")))
        a_tot = a_raw.agg(_esum(F.col("raw")).alias("tot"))
        a = (a_raw.crossJoin(F.broadcast(a_tot))
             .select(F.col(dst).alias("node"),
                     F.round(F.col("raw") / F.col("tot"), scale)
                     .alias("score")))
    hubs = h.select("node", F.col("score").alias("hub"),
                    F.lit(0.0).alias("authority"))
    auths = a.select("node", F.lit(0.0).alias("hub"),
                     F.col("score").alias("authority"))
    return hubs.unionByName(auths)


def label_propagation(edges: DataFrame, *, iterations: int = 3,
                      src: str = "src", dst: str = "dst") -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et al.
    2007, public algorithm), made deterministic: every node starts with
    its own id as label; each round it adopts the most frequent label in
    its (undirected) neighborhood, ties broken by (count DESC, label ASC)
    — the argmax is a row_number window, so the result is independent of
    partitioning and identical across engines, unlike the classic
    random-order variant. Fixed iteration count, synchronous updates.

    Scale — the :func:`pagerank` strategy fork: small graphs broadcast
    the node-sized label table (the bidirectional edge list never
    shuffles); big graphs hash-partition the edge list by neighbor ``b``
    ONCE and exchange only the label table per round (shuffle_hash hint).
    The per-round (node, label) count and top-1 window shuffle ∝ distinct
    neighbor labels, bounded by degree. Returns (node, label) after the
    final round.
    """
    from pyspark.sql import Window

    e0 = edges.select(src, dst).localCheckpoint(eager=True)
    bi = (e0.select(F.col(src).alias("a"), F.col(dst).alias("b"))
          .unionByName(e0.select(F.col(dst).alias("a"),
                                 F.col(src).alias("b"))).distinct())
    if bi.select("a").distinct().count() <= _BROADCAST_NODE_LIMIT:
        bi = bi.localCheckpoint(eager=True)
        _side = lambda df: F.broadcast(df)          # noqa: E731
    else:
        # bi is a derived plan (union+distinct): _pinned's checkpoint
        # runs it exactly once
        bi = _pinned(bi, F.col("b"))
        _side = lambda df: df.hint("shuffle_hash")  # noqa: E731
    labels = (bi.select(F.col("a").alias("node")).distinct()
              .withColumn("label", F.col("node")))
    w = Window.partitionBy("a").orderBy(F.col("n").desc(),
                                        F.col("label").asc())
    for _ in range(iterations):
        lb = _side(labels)
        labels = (bi.join(lb, bi["b"] == lb["node"])
                  .groupBy("a", "label").agg(F.count(F.lit(1)).alias("n"))
                  .withColumn("_rn", F.row_number().over(w))
                  .filter(F.col("_rn") == 1)
                  .select(F.col("a").alias("node"), "label"))
    return labels


def harmonic_centrality(edges: DataFrame, sources: DataFrame, *,
                        max_hops: int = 6, src: str = "src",
                        dst: str = "dst",
                        scale: int = 6) -> DataFrame:
    """Harmonic centrality (Boldi & Vigna 2014, public measure) bounded to
    ``max_hops``: H(v) = Σ_{u∈sources, u≠v, d(u,v)≤max_hops} 1/d(u,v),
    with unweighted hop distances from a multi-source BFS.

    The BFS keeps one (source, node, dist) row per discovered pair:
    each round joins the previous FRONTIER (not the whole known set) to
    the edge list, then anti-joins against the known pairs so a node is
    labeled with its FIRST (minimal) hop count — exactly min-hop, no MIN
    aggregation needed. Per-pair 1/d contributions enter the sum as
    ``round(10^scale / d)`` BIGINT micro-units (the exact-sum rule), so
    the result is shuffle-order-free and the oracle's hop-bounded
    recursive-CTE enumeration lands on identical integers.

    Scale: the pair table is |sources| × reach — harmonic centrality at
    corpus scale is SAMPLED (pass a bounded ``sources``; Eppstein-Wang
    style estimation is the published scale path), never all-pairs. Each
    round shuffles frontier × out-degree rows on the join key; the edge
    list is checkpointed once and rescanned per round.

    Returns (node, harmonic_micro BIGINT, n_reached BIGINT).
    """
    if max_hops < 1:
        raise ValueError(f"max_hops must be >= 1, got {max_hops}")
    e0 = edges.select(src, dst).distinct().localCheckpoint(eager=True)
    seed = (sources.select(F.col(sources.columns[0]).alias("s")).distinct()
            .select("s", F.col("s").alias("node"),
                    F.lit(0).cast("long").alias("dist")))
    levels = _bfs_levels(
        seed, e0, src,
        lambda j, hop: j.select("s", F.col(dst).alias("node"),
                                F.lit(hop).cast("long").alias("dist"))
        .distinct(),
        max_rounds=max_hops)
    known = reduce(DataFrame.unionByName, levels)
    factor = 10 ** scale
    return (known.filter(F.col("dist") > 0)
            .groupBy("node")
            .agg(F.sum(F.round(F.lit(float(factor)) / F.col("dist"))
                       .cast("long")).alias("harmonic_micro"),
                 F.count(F.lit(1)).cast("long").alias("n_reached")))


def betweenness_centrality(edges: DataFrame, sources: DataFrame, *,
                           max_hops: int = 6, src: str = "src",
                           dst: str = "dst",
                           scale: int = 6) -> DataFrame:
    """Hop-synchronous Brandes betweenness centrality (Brandes 2001,
    public algorithm), unweighted, bounded to ``max_hops`` BFS levels
    from ``sources``:

    forward   σ_s(w) = Σ_{(v,w)∈E, d(v)=d(w)−1} σ_s(v)   (level BFS)
    backward  δ_s(v) = Σ_{(v,w)∈DAG} round₆(σ_v/σ_w · (1 + δ_s(w)))
    result    B(v)   = Σ_s δ_s(v)                (v ≠ s; interior only)

    Every per-node quantity is level-synchronous, so the whole thing is
    |levels| rounds of join+aggregate. Path counts σ are exact
    BIGINTs; dependency contributions enter sums as round(·10^scale)
    BIGINT micro-units with a fixed operand order, so the result is
    shuffle-order-free and a level-unrolled SQL oracle reproduces it
    bit-for-bit — including the per-level rounding, which is part of the
    operator's contract, not an implementation detail.

    Scale: exact betweenness is Θ(sources × edges) — at corpus scale you
    SAMPLE sources (Brandes & Pich 2007 pivot estimation, public) and
    this operator already takes the source set as an input. The pair
    table is |sources| × reach; each round shuffles on (source, node).

    Returns (node, betweenness_micro BIGINT) over interior nodes.
    """
    if max_hops < 1:
        raise ValueError(f"max_hops must be >= 1, got {max_hops}")
    factor = 10 ** scale
    e0 = edges.select(src, dst).distinct().localCheckpoint(eager=True)
    seed = (sources.select(F.col(sources.columns[0]).alias("s")).distinct()
            .select("s", F.col("s").alias("node"),
                    F.lit(0).cast("long").alias("d"),
                    F.lit(1).cast("long").alias("sigma")))
    levels = _bfs_levels(
        seed, e0, src,
        lambda j, hop: (j.groupBy("s", F.col(dst).alias("node"))
                        .agg(F.sum("sigma").alias("sigma"))
                        .select("s", "node",
                                F.lit(hop).cast("long").alias("d"),
                                "sigma")),
        max_rounds=max_hops)
    # backward dependency accumulation, deepest level first (δ = 0 there).
    # No checkpoints here: each δ table derives from the CHECKPOINTED
    # levels plus at most max_hops prior δ plans, so lineage depth is
    # bounded by the hop count.
    deltas: dict[int, DataFrame] = {
        len(levels) - 1:
            levels[-1].select("s", "node",
                              F.lit(0).cast("long").alias("dm"))}
    for lev in range(len(levels) - 2, -1, -1):
        a = levels[lev].select("s", F.col("node").alias("v"),
                               F.col("sigma").alias("sv"))
        b = levels[lev + 1].select(F.col("s").alias("_bs"),
                                   F.col("node").alias("w"),
                                   F.col("sigma").alias("sw"))
        dag = (a.join(e0, a["v"] == e0[src])
               .join(b, (a["s"] == b["_bs"]) & (e0[dst] == b["w"])))
        dw = deltas[lev + 1].select(F.col("s").alias("_ds"),
                                    F.col("node").alias("_dn"),
                                    F.col("dm").alias("dm_w"))
        contrib = (dag.join(dw, (dag["s"] == dw["_ds"])
                            & (dag["w"] == dw["_dn"]))
                   .select("s", "v",
                           F.round((F.col("sv").cast("double")
                                    / F.col("sw").cast("double"))
                                   * (F.lit(1.0)
                                      + F.col("dm_w") / float(factor))
                                   * factor).cast("long").alias("c"))
                   .groupBy("s", "v").agg(F.sum("c").alias("dm_sum")))
        deltas[lev] = (levels[lev]
                       .join(contrib.select(F.col("s").alias("_cs"),
                                            F.col("v").alias("_cv"),
                                            "dm_sum"),
                             (levels[lev]["s"] == F.col("_cs"))
                             & (levels[lev]["node"] == F.col("_cv")),
                             "left")
                       .select("s", "node",
                               F.coalesce("dm_sum", F.lit(0))
                               .cast("long").alias("dm")))
    interior = None
    for lev in range(1, len(levels)):        # level 0 is the source itself
        interior = (deltas[lev] if interior is None
                    else interior.unionByName(deltas[lev]))
    if interior is None:
        return (e0.sparkSession.createDataFrame(
            [], "node long, betweenness_micro long"))
    return (interior.groupBy("node")
            .agg(F.sum("dm").cast("long").alias("betweenness_micro")))


def reachability_closure(edges: DataFrame, *, src: str = "src",
                         dst: str = "dst",
                         max_iter: int = 64) -> DataFrame:
    """Full reachability closure of a directed graph: (s, node) pairs
    with ``node`` reachable from ``s`` in ≥0 hops, by frontier BFS to
    fixpoint (anti-join dedup per round).
    The building block under SCCs and bow-tie decomposition. Pair volume
    is Σ|reach(s)| — quadratic on strongly-connected graphs; restrict
    the source set (or graph slice) at corpus scale exactly as the FW-BW
    decomposition does. Raises if the fixpoint is not reached in
    ``max_iter`` rounds."""
    e0 = edges.select(src, dst).distinct().localCheckpoint(eager=True)
    nodes = (e0.select(F.col(src).alias("v"))
             .union(e0.select(F.col(dst).alias("v"))).distinct())
    levels = _bfs_levels(
        nodes.select(F.col("v").alias("s"), F.col("v").alias("node")),
        e0, src,
        lambda j, _hop: j.select("s", F.col(dst).alias("node")).distinct(),
        max_rounds=max_iter,
        error=f"reachability_closure did not reach a fixpoint in {max_iter} "
              "rounds — graph diameter exceeds the guard; raise max_iter or "
              "restrict the source set (FW-BW style)")
    return reduce(DataFrame.unionByName, levels)


def strongly_connected_components(edges: DataFrame, *, src: str = "src",
                                  dst: str = "dst",
                                  max_iter: int = 64) -> DataFrame:
    """Strongly connected components of a DIRECTED graph via reachability
    closure: compute reach = {(s, v): v reachable from s} by frontier BFS
    to fixpoint, intersect with its transpose to get MUTUAL reachability
    (an equivalence relation under full closure — unlike any hop-bounded
    cut of it, which loses transitivity), and label every node with the
    minimum mutually-reachable node id. The directed sibling of
    :func:`connected_components` — a cycle-finding primitive (dependency
    graphs, link farms, currency arbitrage loops).

    Scale: the pair table is Σ|reach(s)| — quadratic on strongly-connected
    graphs, so corpus scale uses the classic trim + FW-BW divide-and-
    conquer (Fleischer et al. 2000, public) where each pivot round is
    exactly two of these BFS closures restricted to the remaining node
    set; this operator is that building block exposed directly. Each
    round is one join + anti-join.
    """
    reach = reachability_closure(edges, src=src, dst=dst,
                                 max_iter=max_iter)
    return _scc_from_closure(reach)


def _scc_from_closure(reach: DataFrame) -> DataFrame:
    """SCC labels from a precomputed reachability closure — factored out
    so callers that already hold the closure (bow-tie) don't pay the
    dominant O(Σ|reach(s)|) BFS twice (ADVICE r6)."""
    rev = reach.select(F.col("node").alias("_rs"), F.col("s").alias("_rn"))
    mutual = (reach.join(rev, (reach["s"] == F.col("_rs"))
                         & (reach["node"] == F.col("_rn")))
              .select(F.col("s").alias("v"), F.col("node").alias("u")))
    return (mutual.groupBy(F.col("v").alias("node"))
            .agg(F.min("u").alias("scc_id")))


def dag_longest_path_layers(edges: DataFrame, *, src: str = "src",
                            dst: str = "dst",
                            max_iter: int = 64) -> DataFrame:
    """Longest-path layering of a DAG — the critical-path / topological
    LEVEL assignment (every node's layer = length of the longest path
    reaching it from any root): iterative max-relaxation

        L_0(v) = 0;   L_{i+1}(v) = max(L_i(v), max_{(u,v)∈E} L_i(u) + 1)

    run to fixpoint. On a DAG this converges in longest-path-length
    rounds and equals the scheduling depth (tasks in layer k can all run
    once layers < k finished). Integer max is order-free ⇒ deterministic
    at any parallelism. Raises if ``max_iter`` rounds don't reach a
    fixpoint — on a CYCLIC graph L grows forever, so the guard doubles
    as cycle detection (use :func:`strongly_connected_components` to
    locate the cycles).

    Scale: each round is one edges⋈layers join + a map-side-combinable
    MAX per dst — the pagerank shuffle shape with MAX instead of SUM;
    the edge list is checkpointed once and reused every round.
    """
    e0 = edges.select(src, dst).distinct().localCheckpoint(eager=True)
    layers = (e0.select(F.col(src).alias("node"))
              .union(e0.select(F.col(dst).alias("node"))).distinct()
              .select("node", F.lit(0).cast("long").alias("layer"))
              .localCheckpoint(eager=True))

    def relax(layers: DataFrame) -> DataFrame:
        up = (e0.join(layers, e0[src] == layers["node"])
              .groupBy(F.col(dst).alias("node"))
              .agg(F.max(F.col("layer") + 1).alias("_up")))
        return (layers.join(up, "node", "left")
                .selectExpr("node",
                            "greatest(layer, coalesce(_up, layer)) AS layer",
                            "coalesce(_up, layer) > layer AS _chg"))

    return _fixpoint(
        layers, relax, _flags_clear, max_iter=max_iter,
        name="dag_longest_path_layers",
        error=f"dag_longest_path_layers did not converge in {max_iter} "
              "rounds — the graph likely contains a cycle (layers grow "
              "forever on cycles); run strongly_connected_components to "
              "locate it").select("node", "layer")


def bowtie_decomposition(edges: DataFrame, *, src: str = "src",
                         dst: str = "dst",
                         max_iter: int = 64) -> DataFrame:
    """Bow-tie decomposition of a directed graph (Broder et al., "Graph
    structure in the Web", WWW 2000 — public): CORE = the largest SCC
    (ties broken by minimum member id), IN = nodes that reach the core
    without belonging to it, OUT = nodes the core reaches, OTHER =
    tendrils/disconnected. A node reaching AND reached by the core would
    be mutually reachable with core members and hence in the core, so
    the four regions partition the node set.

    Built from :func:`reachability_closure` (one closure serves both
    directions — OUT reads it forward, IN reads its transpose) and
    :func:`strongly_connected_components`. Returns (node, region).
    """
    reach = reachability_closure(edges, src=src, dst=dst,
                                 max_iter=max_iter)
    reach = reach.localCheckpoint(eager=True)
    # the SCC labels derive from the SAME closure — computing it twice
    # doubled the dominant BFS cost (ADVICE r6)
    scc = _scc_from_closure(reach).localCheckpoint(eager=True)
    sizes = (scc.groupBy("scc_id")
             .agg(F.count(F.lit(1)).alias("n")))
    core_id = (sizes.orderBy(F.col("n").desc(), F.col("scc_id").asc())
               .first()["scc_id"])
    core = scc.filter(F.col("scc_id") == core_id).select("node")
    core_s = core.select(F.col("node").alias("_c"))
    reaches_core = (reach.join(core_s, reach["node"] == core_s["_c"])
                    .select(F.col("s").alias("node")).distinct())
    core_reaches = (reach.join(core_s, reach["s"] == core_s["_c"])
                    .select(F.col("node")).distinct())
    in_core = core.withColumn("_r", F.lit("CORE"))
    in_set = (reaches_core.join(core, "node", "left_anti")
              .withColumn("_r", F.lit("IN")))
    out_set = (core_reaches.join(core, "node", "left_anti")
               .withColumn("_r", F.lit("OUT")))
    nodes = scc.select("node")
    classified = in_core.unionByName(in_set).unionByName(out_set)
    other = (nodes.join(classified.select("node"), "node", "left_anti")
             .withColumn("_r", F.lit("OTHER")))
    return (classified.unionByName(other)
            .select("node", F.col("_r").alias("region")))
