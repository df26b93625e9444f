"""Graph operators: connected components over near-duplicate pair graphs.

The missing last step of a dedup pipeline (operators/corpus.py keeps the
"drop the larger id of any qualifying pair" linear heuristic): TRANSITIVE
clustering, so a chain a~b~c collapses to one cluster even when a~c
itself is below the similarity threshold.

Spark-first shape: iterative min-label propagation — each iteration is
one equi-join + one aggregation (both keyed shuffles), converging in
O(graph diameter) rounds; ``localCheckpoint`` cuts the lineage so plan
size stays constant across iterations. Near-dup graphs have tiny
diameters (dup clusters are dense), so 3-5 rounds is typical at any
scale. This is the standard map-reduce CC construction; the
small-star/large-star optimization is the drop-in upgrade if a corpus
ever produces deep chains.
"""

from __future__ import annotations

import contextlib

from pyspark.sql import DataFrame, functions as F

from reactivedb_spark import cache


@contextlib.contextmanager
def _iteration_shuffle(df: DataFrame, disable_aqe: bool = True):
    """Pin shuffle parallelism to the cluster's core count AND disable
    AQE for the label-propagation rounds. Iterative CC runs many SMALL
    keyed shuffles over node/label relations; under the global default
    of 200 shuffle partitions each round pays 200-task fixed overhead
    regardless of data size (measured: dedup_clusters 33→~20 s on a
    vanilla local[8] session at sf0.01). defaultParallelism tracks
    executor cores, so the pin scales with the cluster instead of being
    a magic constant; the expensive EDGE derivation is materialized by
    the caller BEFORE entering this scope, so only the iteration is
    affected. The session values are restored on exit.

    AQE is off inside the scope because AQE wraps every cached plan in
    an AdaptiveSparkPlan whose output partitioning reads as UNKNOWN to
    consumers, so the :func:`_pin_by_key` static join side would be
    re-exchanged and re-sorted EVERY round (measured: the exchange and
    sort vanish from the round plan with AQE off, and reappear with it
    on). The loop shuffles are already sized by the pin above — exactly
    what AQE coalescing would have done — and skew inside a round is
    bounded by each algorithm's own design (degree orientation, stop
    bands), so AQE buys nothing here and costs an exchange+sort of the
    edge relation per round."""
    spark = df.sparkSession
    old = spark.conf.get("spark.sql.shuffle.partitions")
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        str(max(spark.sparkContext.defaultParallelism, 4)),
    )
    if disable_aqe:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)


def _pin_by_key(df: DataFrame, key: str) -> DataFrame:
    """Persist ``df`` hash-partitioned AND sorted by ``key``, sized to
    the iteration shuffle width. A static relation that every iteration
    round joins on ``key`` (the symmetrized edge list, a degree-annotated
    edge list) then enters each round's sort-merge join with NO exchange
    and NO sort — the per-round cost drops from re-shuffling the edge
    relation every round to shuffling only the (much smaller) evolving
    node relation. persist() (not localCheckpoint) is load-bearing: a
    checkpointed RDD scan reports UnknownPartitioning, so every consumer
    would re-exchange it; the cached plan keeps the repartition+sort in
    its lineage where EnsureRequirements can see it. Must be called
    inside :func:`_iteration_shuffle` (AQE off — see there — and the
    partition count must match the round shuffles). MEMORY_AND_DISK
    semantics of the default storage level keep this scale-safe: at
    cluster scale the edge relation spills to local disk once, which is
    no worse than the per-round shuffle writes it replaces."""
    spark = df.sparkSession
    p = max(spark.sparkContext.defaultParallelism, 4)
    return cache.pin(df.repartition(p, key).sortWithinPartitions(key))


def connected_components(edges: DataFrame, a: str = "doc_a", b: str = "doc_b",
                         max_iter: int = 50) -> DataFrame:
    """(node, cluster) for every node in the undirected edge list;
    ``cluster`` = min node id in the component (deterministic labels)."""
    # checkpoint the one-sided projection FIRST: the union's two branches
    # would otherwise each recompute the upstream edge derivation (for
    # dedup graphs that is the whole LSH + Jaccard-verify pipeline — 2×
    # the most expensive relation in the query)
    e0 = edges.select(F.col(a).alias("s"), F.col(b).alias("d")).localCheckpoint()
    converged = False
    with _iteration_shuffle(e0):
        # the static join side of every round: partition+sort by the
        # corner ONCE (_pin_by_key) so the per-round join shuffles only
        # the frontier, never the edge relation
        sym = _pin_by_key(
            e0.unionByName(
                e0.select(F.col("d").alias("s"), F.col("s").alias("d"))
            ),
            "s",
        )
        labels = (
            sym.select(F.col("s").alias("node")).distinct()
            .withColumn("label", F.col("node"))
            .localCheckpoint()
        )
        # frontier propagation: after the first sweep only nodes whose label
        # IMPROVED need to push it to their neighbors, so per-round work
        # shrinks with the frontier instead of staying O(V + E) every round
        frontier = labels
        for _ in range(max_iter):
            nbr = frontier.join(sym, frontier["node"] == sym["s"]).select(
                F.col("d").alias("node"), F.col("label").alias("_cand")
            )
            best = nbr.groupBy("node").agg(F.min("_cand").alias("_cand"))
            joined = labels.join(best, "node", "left").localCheckpoint()
            frontier = joined.filter(
                F.col("_cand").isNotNull() & (F.col("_cand") < F.col("label"))
            ).select("node", F.col("_cand").alias("label"))
            labels = joined.select(
                "node", F.least(F.col("label"), F.coalesce("_cand", "label")).alias("label")
            )
            if frontier.isEmpty():
                converged = True
                break
    if not converged:
        # partial labels would silently disagree with any exact oracle —
        # refuse rather than return unconverged clusters
        raise RuntimeError(
            f"connected_components did not converge within max_iter={max_iter} "
            "rounds (component diameter exceeds the budget); raise max_iter or "
            "use connected_components_star (O(log² n) rounds, any diameter)"
        )
    return labels.select(F.col("node"), F.col("label").alias("cluster"))


def pagerank(edges: DataFrame, a: str = "doc_a", b: str = "doc_b",
             damping: float = 0.85, iters: int = 5) -> DataFrame:
    """Fixed-iteration PageRank over the undirected edge list:
    ``pr = (1-d)/N + d · Σ_in pr/deg``, ``iters`` synchronous rounds.

    Spark-first shape: each round is one broadcast-free equi-join
    (rank × symmetrized edges on the source node) plus one keyed sum —
    the same two-shuffle economics as the CC rounds; ``localCheckpoint``
    caps lineage growth so round N+1's plan doesn't re-derive round N.

    Cross-engine determinism: per-edge ``pr/deg`` and the final affine
    update are IEEE double ops (identical everywhere); only the
    *summation order* is engine-dependent, so each contribution is cast
    to DECIMAL(28,14) and summed exactly. The oracle unrolls the same
    rounds as chained CTEs. Symmetrized graphs have no dangling nodes
    (every node has degree ≥ 1), so no dangling-mass term is needed.
    """
    # one-sided projection checkpointed first — see connected_components:
    # the union's branches must not recompute the edge derivation twice
    e0 = edges.select(F.col(a).alias("s"), F.col(b).alias("d")).localCheckpoint()
    with _iteration_shuffle(e0):
        sym = (
            e0.unionByName(e0.select(F.col("d").alias("s"), F.col("s").alias("d")))
            .distinct()
            .localCheckpoint()
        )
        deg = sym.groupBy("s").agg(F.count("*").cast("long").alias("deg"))
        n = deg.count()
        base = (1.0 - damping) / n
        ranks = deg.select(F.col("s").alias("node"), F.lit(1.0 / n).alias("pr"))
        # degree-annotated edges, partitioned+sorted by source ONCE: each
        # round is then ONE join that shuffles only the rank relation
        # (the old shape recomputed deg from sym — an edge-sized shuffle —
        # and re-shuffled sym itself every round). Per-edge pr/deg uses
        # the identical operands the per-node pre-division used, so the
        # doubles (and their DECIMAL(28,14) casts) are bit-identical.
        sym2 = _pin_by_key(sym.join(deg, "s").select("s", "d", "deg"), "s")
        for _ in range(iters):
            contrib = ranks.join(sym2, ranks["node"] == sym2["s"]).select(
                F.col("d").alias("node"),
                (F.col("pr") / F.col("deg").cast("double"))
                .cast("decimal(28,14)").alias("c"),
            )
            ranks = (
                contrib.groupBy("node")
                .agg(F.sum("c").alias("csum"))
                .select(
                    "node",
                    (F.lit(base) + F.lit(damping) * F.col("csum").cast("double")).alias("pr"),
                )
                .localCheckpoint()
            )
    return ranks.select("node", F.round(F.col("pr"), 9).alias("pr"))


def connected_components_star(edges: DataFrame, a: str = "doc_a", b: str = "doc_b",
                              max_iter: int = 50) -> DataFrame:
    """(node, cluster) via alternating large-star/small-star contraction —
    the deep-graph path: round count is O(log² n) INDEPENDENT of component
    diameter (vs the frontier variant's O(diameter)), so million-hop
    chains converge in a few dozen rounds. Public algorithm: Kiveris,
    Lattanzi, Mirrokni, Rastogi, Vassilvitskii, "Connected Components in
    MapReduce and Beyond" (SoCC 2014).

    Each round is two window-min passes + distinct over the edge list —
    keyed shuffles on node ids, no driver-side graph state; convergence is
    detected by an edge-multiset signature (count + hash sum), one tiny
    aggregate per round. At the fixed point the edge list is a star
    forest: every non-root points directly at its component minimum."""
    e = (
        edges.select(F.greatest(F.col(a), F.col(b)).alias("u"),
                     F.least(F.col(a), F.col(b)).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    from pyspark.sql.window import Window

    def signature(df: DataFrame):
        r = df.agg(
            F.count("*").alias("n"),
            F.sum(F.hash("u", "v").cast("long")).alias("h"),
        ).first()
        return (r["n"], r["h"])

    prev_sig = signature(e)
    converged = False
    # AQE stays ON here (disable_aqe=False): star contraction has no
    # static pre-partitioned join side to protect, its edge relation
    # SHRINKS geometrically across rounds, and AQE's coalescing of the
    # later rounds' near-empty shuffles is load-bearing (measured at
    # sf0.1 on the deep-chain graph: 27.9 s with AQE off in-loop vs
    # 7.8 s with it on — ~19 rounds of 3 fixed-width shuffles each).
    with _iteration_shuffle(e, disable_aqe=False):
        for _ in range(max_iter):
            # large-star: strictly-larger neighbors of each center attach to
            # the minimum of the closed neighborhood
            sym = e.unionByName(
                e.select(F.col("v").alias("u"), F.col("u").alias("v"))
            )
            w = Window.partitionBy("u")
            ls = (
                sym.withColumn("m", F.least(F.min("v").over(w), F.col("u")))
                .filter(F.col("v") > F.col("u"))
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
            )
            # large-star output goes UN-deduplicated into small-star: a
            # duplicate (u,v) cannot change the window min, and e2's
            # distinct dedups anyway — dropping the intermediate distinct
            # removes one full (u,v) shuffle per round (A/B on the sf10
            # dup-pair graph, 10.4M edges: 9.3→6.3 s, identical
            # partitions; round-10 record in BASELINE.md). u != v holds
            # by construction: ls rows are (v, m) with m <= u < v.
            e1 = ls
            # small-star: edges now all point big→small; every center and its
            # smaller neighbors attach to the neighborhood minimum
            ss = e1.withColumn("m", F.min("v").over(w))
            e2 = (
                ss.select("u", F.col("m").alias("v"))
                .unionByName(
                    ss.filter(F.col("v") != F.col("m"))
                    .select(F.col("v").alias("u"), F.col("m").alias("v"))
                )
                .filter(F.col("u") != F.col("v"))
                .distinct()
                .localCheckpoint()
            )
            sig = signature(e2)
            e = e2
            if sig == prev_sig:
                converged = True
                break
            prev_sig = sig
    if not converged:
        raise RuntimeError(
            f"connected_components_star did not converge within {max_iter} rounds"
        )
    roots = e.select(F.col("v").alias("node")).subtract(
        e.select(F.col("u").alias("node"))
    )
    return (
        e.select(F.col("u").alias("node"), F.col("v").alias("cluster"))
        .unionByName(roots.select("node", F.col("node").alias("cluster")))
    )


def triangle_count(edges: DataFrame, a: str = "u", b: str = "v") -> DataFrame:
    """Exact triangle count via DEGREE-ORIENTED wedge closing — the
    textbook scale-correct construction (Suri & Vassilvitskii 2011,
    "Counting Triangles and the Curse of the Last Reducer").

    Naive node-iterator joins explode on hubs: a degree-d node yields
    d² wedges, and real graphs' hubs make one reducer quadratic. The
    fix: orient every undirected edge from its (degree, id)-SMALLER
    endpoint to its larger one — each triangle is then counted exactly
    once from its unique smallest corner, and a node's out-degree is
    bounded by ~√(2m), so the wedge relation is at most m^{3/2} overall
    regardless of hubs (the "last reducer" is cured).

    Plan shape: degrees (groupBy), orientation, then out-adjacency
    lists grouped by source and intersected per oriented edge — the
    wedge-sized relation never crosses an exchange as rows. Degrees
    ride a broadcast when small; all arithmetic integer-exact.

    Emits ONE row (n_edges, n_wedges, n_triangles) — the wedge count is
    part of the contract so the oracle verifies the orientation (a
    wrong orientation still finds the same triangles but a different
    wedge count)."""
    und = (
        edges.select(F.col(a).alias("x"), F.col(b).alias("y"))
        .filter(F.col("x") != F.col("y"))
        .select(
            F.least("x", "y").alias("x"), F.greatest("x", "y").alias("y")
        )
        .distinct()
    )
    und = cache.pin(und)
    deg = (
        und.select(F.col("x").alias("n")).unionAll(und.select(F.col("y").alias("n")))
        .groupBy("n").agg(F.count(F.lit(1)).alias("d"))
    )
    dx = deg.select(F.col("n").alias("x"), F.col("d").alias("dx"))
    dy = deg.select(F.col("n").alias("y"), F.col("d").alias("dy"))
    ranked = und.join(dx, "x").join(dy, "y")
    # orient (degree, id)-ascending: src = smaller corner
    fwd = ranked.select(
        F.when((F.col("dx") < F.col("dy"))
               | ((F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y"))),
               F.col("x")).otherwise(F.col("y")).alias("src"),
        F.when((F.col("dx") < F.col("dy"))
               | ((F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y"))),
               F.col("y")).otherwise(F.col("x")).alias("dst"),
    )
    fwd = cache.pin(fwd)
    # adjacency-intersect closing: instead of materializing the
    # m^{3/2}-row wedge relation (w1 ⋈ w2 on the corner) and shuffling
    # it again by (p, q) to probe the closing edges — two exchanges plus
    # a sort of the biggest relation in the query — attach each oriented
    # edge's out-neighbour lists and count |N+(src) ∩ N+(dst)| per edge.
    # Equivalence (integer-exact, same three outputs):
    #  - a triangle a<b<c in (degree, id) order is closed exactly once,
    #    from its (a, b) edge: c ∈ N+(a) ∩ N+(b); the (a, c) and (b, c)
    #    edges contribute nothing for it — identical to counting wedges
    #    (p, q) from corner a that find a closing edge.
    #  - n_wedges = Σ C(out-degree, 2), the same number the w1 ⋈ w2
    #    pair join counted.
    #  - nbrs lists are sets (fwd rows are distinct oriented edges), and
    #    the intersection SIZE is order-independent, so no sort needed.
    # The wedge-sized work is now per-row hash-set intersections inside
    # one stage; the only wedge-sized bytes that still cross an exchange
    # are the N+(src) arrays riding the dst-keyed join (bounded by
    # out-degree ≤ ~√(2m) per row, no row-per-wedge overhead, no sort).
    adj = cache.pin(
        fwd.groupBy("src").agg(
            F.collect_list("dst").alias("nbrs"),
            F.count(F.lit(1)).alias("dout"),
        )
    )
    a_src = adj.select(F.col("src").alias("_js"), F.col("nbrs").alias("_nbrs_s"))
    a_dst = adj.select(F.col("src").alias("_jd"), F.col("nbrs").alias("_nbrs_d"))
    per_edge = (
        fwd.join(a_src, F.col("src") == F.col("_js"))
        .join(a_dst, F.col("dst") == F.col("_jd"), "left")
        # legacy size(NULL) is -1, so guard the dst-side miss explicitly
        .select(
            F.when(F.col("_nbrs_d").isNull(), F.lit(0)).otherwise(
                F.size(F.array_intersect(F.col("_nbrs_s"), F.col("_nbrs_d")))
            ).alias("_tri")
        )
    )
    return (
        per_edge.agg(
            F.coalesce(F.sum("_tri"), F.lit(0)).alias("n_triangles")
        )
        .crossJoin(adj.agg(F.coalesce(
            F.sum(F.expr("(dout * (dout - 1)) DIV 2")), F.lit(0)
        ).alias("n_wedges")))
        .crossJoin(und.agg(F.count(F.lit(1)).alias("n_edges")))
        .select(
            F.col("n_edges").cast("long").alias("n_edges"),
            F.col("n_wedges").cast("long").alias("n_wedges"),
            F.col("n_triangles").cast("long").alias("n_triangles"),
        )
    )


def k_core(edges: DataFrame, k: int, a: str = "u", b: str = "v",
           rounds: int = 16) -> DataFrame:
    """Nodes of the k-core — the maximal subgraph where every node keeps
    degree ≥ k — by iterative degree peeling (Matula & Beck 1983), with
    each node's degree WITHIN the core.

    Determinism/oracle contract: the peel runs a FIXED budget of
    ``rounds`` iterations; peeling is idempotent past its fixpoint, so
    an engine may stop early once a round removes nothing and still
    equal the full unrolled budget — which is exactly how the SQL
    oracle replays it (``rounds`` chained degree→filter→semi-join CTEs).
    If the fixpoint needs more than ``rounds`` peels BOTH engines stop
    at the same partial peel, so results stay hash-identical either way
    (declared; raise ``rounds`` for deep onion graphs).

    Plan shape (100 TB): per round ONE keyed degree aggregation and two
    semi-joins on node id — all hash-partitioned on the node, no
    broadcast of anything node-sized; ``localCheckpoint`` truncates the
    per-round lineage and `_iteration_shuffle` pins the round shuffles
    to core count. Early-stop probe is a parquet-free count on the
    checkpointed edge relation."""
    e0 = edges.select(F.col(a).alias("s"), F.col(b).alias("d")).localCheckpoint()
    # AQE stays ON here and the rounds keep the original localCheckpoint
    # shape: the r13 alternating-key pinned variant (one exchange per
    # round, AQE off) measured CONSISTENTLY slower in-session — 14.1 →
    # 19.5 s min-of-3 interleaved at sf0.1 — because the live relation
    # SHRINKS every peel round, and AQE's right-sizing of the round
    # shuffles beats saving one exchange on a relation that is about to
    # be re-materialized anyway (same reasoning as
    # connected_components_star). Unlike CC/pagerank there is no STATIC
    # join side to protect here.
    with _iteration_shuffle(e0, disable_aqe=False):
        spark = e0.sparkSession
        # the caller's edge derivation may arrive in hundreds of tiny
        # partitions (session default shuffle width); every peel round
        # re-scans the live relation, so shrink it to core count ONCE
        live = (
            e0.unionByName(
                e0.select(F.col("d").alias("s"), F.col("s").alias("d"))
            )
            .repartition(spark.sparkContext.defaultParallelism, "s")
            .localCheckpoint()
        )
        n_live = live.count()
        for _ in range(int(rounds)):
            deg = live.groupBy("s").agg(F.count(F.lit(1)).alias("_deg"))
            keep = deg.filter(F.col("_deg") >= int(k)).select("s")
            pruned = (
                live.join(keep, "s", "left_semi")
                .join(keep.withColumnRenamed("s", "d"), "d", "left_semi")
                .localCheckpoint()
            )
            n_new = pruned.count()
            live = pruned
            if n_new == n_live:  # fixpoint: further rounds are no-ops
                break
            n_live = n_new
    return (
        live.groupBy(F.col("s").alias("node"))
        .agg(F.count(F.lit(1)).cast("long").alias("core_degree"))
    )


def label_propagation(edges: DataFrame, a: str = "u", b: str = "v",
                      rounds: int = 3) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007, made
    deterministic): ``rounds`` fixed sweeps where every node adopts the
    most frequent label among its neighbours, ties broken by the SMALLER
    label, isolated updates applied simultaneously. Unlike the min-label
    rule (which converges to connected components), the frequency rule
    finds denser-than-surroundings communities; the fixed round budget
    plus the (count desc, label asc) tie-break make the result exactly
    reproducible, so the oracle can unroll the identical rounds as
    chained CTEs.

    Spark-first shape per round: one equi-join (labels x symmetrized
    edges), one (node, label) count aggregation, one window row_number
    to pick the argmax — all keyed shuffles on the node id, lineage cut
    per round with localCheckpoint. At 100 TB: 3 shuffles per round on
    the edge relation, nothing driver-side.

    Returns (node, label) — initial label = own node id.
    """
    from pyspark.sql import Window

    e0 = edges.select(F.col(a).alias("s"), F.col(b).alias("d")).localCheckpoint()
    # AQE stays ON and the vote-join side is a plain checkpoint, not a
    # pinned partitioning: the pinned AQE-off shape lost an interleaved
    # A/B at sf0.1 in all 5 rounds (min 5.65 vs 4.42 s), because AQE
    # right-sizes the small per-round vote shuffles
    with _iteration_shuffle(e0, disable_aqe=False):
        sym = (
            e0.unionByName(
                e0.select(F.col("d").alias("s"), F.col("s").alias("d"))
            ).distinct()
            .localCheckpoint()
        )
        labels = (
            sym.select(F.col("s").alias("node")).distinct()
            .withColumn("label", F.col("node"))
            .localCheckpoint()
        )
        pick = Window.partitionBy("node").orderBy(
            F.col("n").desc(), F.col("label").asc())
        for _ in range(rounds):
            votes = (
                labels.join(sym, labels["node"] == sym["s"])
                .groupBy(F.col("d").alias("node"), F.col("label"))
                .agg(F.count(F.lit(1)).alias("n"))
            )
            labels = (
                votes.withColumn("_rk", F.row_number().over(pick))
                .filter(F.col("_rk") == 1)
                .select("node", "label")
                .localCheckpoint()
            )
    return labels.select(
        F.col("node").cast("long").alias("node"),
        F.col("label").cast("long").alias("label"),
    )


def bfs_hops(edges: DataFrame, sources: DataFrame, a: str = "u", b: str = "v",
             source_col: str = "node", max_hops: int = 4) -> DataFrame:
    """Multi-source BFS hop distance over the undirected edge list:
    (node, hops) for every node within ``max_hops`` of ANY source, hops
    = length of the shortest path (sources themselves at 0). Fixed
    round budget; expansion is idempotent past the fixpoint, so an
    oracle unrolling the same rounds is exact whether or not the
    frontier drains early (same contract as k_core).

    Spark-first shape per round: frontier ⋈ edges (one keyed shuffle),
    anti-join against the visited set, union — the frontier SHRINKS as
    the graph saturates, so per-round work tracks the expansion, not
    O(V+E). Lineage cut per round with localCheckpoint.
    """
    e0 = edges.select(F.col(a).alias("s"), F.col(b).alias("d")).localCheckpoint()
    with _iteration_shuffle(e0):
        # static expansion side: partitioned+sorted by the corner once,
        # so each hop shuffles only the frontier
        sym = _pin_by_key(
            e0.unionByName(
                e0.select(F.col("d").alias("s"), F.col("s").alias("d"))
            ).distinct(),
            "s",
        )
        visited = sources.select(
            F.col(source_col).alias("node"), F.lit(0).alias("hops")
        ).distinct().localCheckpoint()
        frontier = visited
        for r in range(1, max_hops + 1):
            if frontier.isEmpty():
                break
            reached = (
                frontier.join(sym, frontier["node"] == sym["s"])
                .select(F.col("d").alias("node"))
                .distinct()
            )
            frontier = (
                reached.join(visited, "node", "left_anti")
                .select("node", F.lit(r).alias("hops"))
                .localCheckpoint()
            )
            visited = visited.unionByName(frontier).localCheckpoint()
    return visited.select(
        F.col("node").cast("long").alias("node"),
        F.col("hops").cast("long").alias("hops"),
    )
