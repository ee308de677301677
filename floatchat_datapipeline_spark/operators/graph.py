"""Graph analytics over warehouse tables — edge building + PageRank.

The reference has no graph surface; this extends the engine the way a
training-data pipeline needs it: derive an entity graph FROM relational
data (co-activity, co-citation, near-dup clusters) and rank nodes by
centrality to weight/prioritize sources. The dup-cluster closure
(operators/clusters.py large-star/small-star) already covers connected
components; PageRank is the second canonical iterative-join algorithm.

Cross-engine determinism: PageRank is usually float — and repeated float
summation is order-dependent, so a DuckDB replay would drift after a few
iterations. This implementation is FIXED-POINT: ranks are BIGINT
"mass units" (total mass 10^15), per-edge contributions are integer
division `rank div outdeg`, and damping is `(85 * inflow) div 100`.
Integer addition is associative under any shuffle order, so ten
iterations are bit-identical across Spark partitionings AND across
engines — the oracle replays them as ten chained SQL CTEs. The floor
divisions leak a few units of mass per node per iteration (bounded by
outdeg + 100 units); that is a documented property of the algorithm, not
noise — both engines leak identically.

Scale notes (100 TB): the rank vector is |V| rows — tiny next to the
edge list — so each iteration BROADCASTS ranks into the edge scan (no
edge shuffle, no driver collect; the plan's only exchange is the
partial-aggregable groupBy(dst)). When |V| outgrows the broadcast
threshold, drop the explicit broadcast and pre-bucket both sides on the
node key (sinks/bucketed.py) so the per-iteration join is co-located.
Ranks are localCheckpointed every `checkpoint_every` iterations —
10 chained join+agg plans otherwise stack into one giant lineage (the
iterative-algorithm rule from operators/clusters.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from floatchat_datapipeline_spark import memo
from floatchat_datapipeline_spark.functions.eventtime import (
    epoch_micros,
    long_div,
)

# Total PageRank mass in integer units. 10^15 leaves headroom for the
# 85×inflow product (8.5e16 << 2^63) and gives ~6 significant digits of
# rank resolution at a million nodes.
PAGERANK_MASS = 10**15
DAMPING_NUM, DAMPING_DEN = 85, 100


def coactivity_edges(
    events: DataFrame,
    bucket_cap: int = 64,
    slot_seconds: int = 600,
    cache_key: str | None = None,
) -> DataFrame:
    """Directed co-activity edges between users: u → v (and v → u) iff
    both have ≥1 event of the same event_type within the same
    `slot_seconds` time slot (default 10 min — hour-wide slots make the
    graph near-complete on this generator's uniform traffic, which is
    both meaningless as a signal and quadratically expensive).

    Memberships dedupe to (event_type, slot, user) BEFORE pairing, and
    each bucket keeps only its first `bucket_cap` users by ascending id
    (row_number, deterministic) — the LSH posting-list rule: per-bucket
    pair fan-out is O(cap²), never O(members²), so one viral slot cannot
    produce a quadratic edge blowup. Pairs are generated in-array from
    one sorted collect_set per bucket (the session_cooccurrence shape:
    bounded by cap, no self-join re-execution), then deduped across
    buckets. Returns distinct (src, dst), symmetric by construction —
    every node therefore has outdeg ≥ 1 (no dangling-mass handling
    needed in pagerank_fixed_point); users never co-active with anyone
    are not nodes.
    """
    # Per-corpus memo: PageRank and the triangle census share the same
    # edge list in one session — build it once, localCheckpoint, reuse
    # until the events table changes. cache_key opts in.
    if not cache_key:
        return _coactivity_edges(events, bucket_cap, slot_seconds)
    return memo.lookup(
        "coactivity-edges",
        cache_key,
        (bucket_cap, slot_seconds),
        events,
        lambda: _coactivity_edges(
            events, bucket_cap, slot_seconds
        ).localCheckpoint(eager=True),
    )


def _coactivity_edges(
    events: DataFrame, bucket_cap: int, slot_seconds: int
) -> DataFrame:
    slot_us = slot_seconds * 1_000_000
    members = events.select(
        "event_type",
        long_div(epoch_micros(F.col("ts")), slot_us).alias("h"),
        "user_id",
    ).distinct()
    w = Window.partitionBy("event_type", "h").orderBy("user_id")
    capped = (
        members.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= bucket_cap)
        .drop("_rn")
    )
    buckets = capped.groupBy("event_type", "h").agg(
        F.sort_array(F.collect_set("user_id")).alias("us")
    )
    # all ordered pairs (i ≠ j) from each bucket's sorted user array
    pair_arr = F.flatten(
        F.transform(
            F.col("us"),
            lambda x: F.filter(
                F.transform(
                    F.col("us"),
                    lambda y: F.struct(x.alias("src"), y.alias("dst")),
                ),
                lambda p: p["src"] != p["dst"],
            ),
        )
    )
    return (
        buckets.select(F.explode(pair_arr).alias("p"))
        .select("p.src", "p.dst")
        .distinct()
    )


def pagerank_fixed_point(
    edges: DataFrame,
    iters: int = 10,
    checkpoint_every: int = 3,
) -> DataFrame:
    """Fixed-point PageRank (α = 0.85) over a directed edge list whose
    every node has outdeg ≥ 1 (symmetric edge lists qualify).

    rank₀(v)   = MASS div n
    rankᵢ₊₁(v) = (15·(MASS div n)) div 100
                 + (85 · Σ_{u→v} rankᵢ(u) div outdeg(u)) div 100

    All BIGINT; returns (node, rank_units). See module docstring for the
    determinism and 100 TB rationale.
    """
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    # edges ⋈ outdeg once, up front; localCheckpoint so the 10 iterations
    # re-read a materialized edge list instead of re-running the dedup.
    ed = edges.join(deg, "src").localCheckpoint(eager=True)
    nodes = ed.select(F.col("src").alias("node")).distinct()
    stats = nodes.agg(F.count(F.lit(1)).alias("n"))
    base = F.expr(f"{PAGERANK_MASS} div n")
    # no checkpoint on the init vector: its lineage is one distinct off
    # the already-checkpointed edge list — an extra eager action would
    # cost a scheduled job and save nothing
    ranks = nodes.crossJoin(F.broadcast(stats)).select(
        "node", base.alias("rank"), "n"
    )
    teleport = F.expr(f"({15} * ({PAGERANK_MASS} div n)) div 100")
    for i in range(iters):
        inflow = (
            ed.join(
                F.broadcast(ranks.select("node", "rank")),
                ed.src == F.col("node"),
            )
            .select(F.col("dst"), F.expr("rank div outdeg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = (
            ranks.select("node", "n")
            .join(inflow, F.col("node") == F.col("dst"), "left")
            .select(
                "node",
                (
                    teleport
                    + F.expr(
                        f"({DAMPING_NUM} * coalesce(inflow, 0L))"
                        f" div {DAMPING_DEN}"
                    )
                ).alias("rank"),
                "n",
            )
        )
        if (i + 1) % checkpoint_every == 0 and i + 1 < iters:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks.select("node", "rank")


def personalized_pagerank_fixed_point(
    edges: DataFrame,
    seeds: DataFrame,
    iters: int = 10,
    checkpoint_every: int = 3,
) -> DataFrame:
    """G7 — personalized PageRank: identical BIGINT fixed-point
    machinery to pagerank_fixed_point, but ALL teleport mass returns to
    the seed set (the recommendation primitive: rank = proximity to the
    seeds, not global importance).

    rank₀(v)   = MASS div |S|           if v ∈ S else 0
    rankᵢ₊₁(v) = [v ∈ S]·(15·(MASS div |S|)) div 100
                 + (85 · Σ_{u→v} rankᵢ(u) div outdeg(u)) div 100

    `seeds` is a 1-column (node) frame; it broadcasts into the node
    vector once. Same determinism argument as the global variant:
    integer associativity makes any shuffle order bit-identical, so the
    oracle chains the same iterations as CTEs."""
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    ed = edges.join(deg, "src").localCheckpoint(eager=True)
    nodes = ed.select(F.col("src").alias("node")).distinct()
    flagged = nodes.join(
        F.broadcast(seeds.select(F.col(seeds.columns[0]).alias("node"))
                    .distinct()
                    .withColumn("_s", F.lit(1))),
        "node",
        "left",
    ).select("node", F.coalesce("_s", F.lit(0)).alias("is_seed"))
    ns = flagged.agg(F.sum("is_seed").alias("ns"))
    ranks = flagged.crossJoin(F.broadcast(ns)).select(
        "node",
        "is_seed",
        F.expr(f"is_seed * ({PAGERANK_MASS} div ns)").alias("rank"),
        "ns",
    )
    for i in range(iters):
        inflow = (
            ed.join(
                F.broadcast(ranks.select("node", "rank")),
                ed.src == F.col("node"),
            )
            .select(F.col("dst"), F.expr("rank div outdeg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = (
            ranks.select("node", "is_seed", "ns")
            .join(inflow, F.col("node") == F.col("dst"), "left")
            .select(
                "node",
                "is_seed",
                "ns",
                (
                    F.expr(
                        f"is_seed * ((15 * ({PAGERANK_MASS} div ns))"
                        " div 100)"
                    )
                    + F.expr(
                        f"({DAMPING_NUM} * coalesce(inflow, 0L))"
                        f" div {DAMPING_DEN}"
                    )
                ).alias("rank"),
            )
        )
        if (i + 1) % checkpoint_every == 0 and i + 1 < iters:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks.select("node", "rank")


def triangle_stats(edges: DataFrame) -> DataFrame:
    """Exact triangle census over a symmetric edge list — one row:
    (n_nodes, n_edges, n_wedges, n_triangles, global_clustering).

    Degree-ordered orientation + compact-adjacency intersection: orient
    each undirected edge from its lower-(degree, id) endpoint to the
    higher one, so every node's OUT-degree is bounded by O(√E)
    regardless of how viral its raw degree is — the skew cap that makes
    the algorithm survive power-law graphs. Each triangle {x<y<z} (in
    the total order) then has out-edges x→y, x→z, y→z and is found
    EXACTLY once, at edge (x,y), as a member of N⁺(x) ∩ N⁺(y). Rather
    than materializing the wedge relation (o ⋈ o on the source — 17.6 M
    rows on the sf0.1 co-activity graph, the dominant cost of the naive
    plan), the oriented out-neighborhoods collapse to per-node sorted
    arrays (each ≤ O(√E) by the orientation bound) that join back to the
    edge list — two node-key joins, and the intersection runs inside
    codegen per edge with ZERO extra shuffle rows (measured ~2× faster
    than the wedge join at sf0.1).

    Scale notes (100 TB): degree attach, neighborhood build, and both
    array joins are all node-key shuffles (broadcast while |V| is small;
    co-partitioned at scale); nothing quadratic is ever materialized.
    All counters are exact BIGINTs; the closing global_clustering =
    3·T/W divides two exact integers, so the IEEE quotient is
    bit-identical in any engine.

    Wedge semantics: n_wedges counts UNDIRECTED wedges (paths of length
    2) = Σ_v deg(v)·(deg(v)−1)/2 over raw degrees — the denominator of
    the standard global clustering coefficient.
    """
    und = edges.filter(F.col("src") < F.col("dst"))
    deg = (
        edges.groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # total order: (deg, node) — attach to both endpoints, orient upward
    e = (
        und.join(deg.withColumnRenamed("node", "src"), "src")
        .withColumnRenamed("deg", "deg_s")
        .join(
            deg.withColumnRenamed("node", "dst").withColumnRenamed(
                "deg", "deg_d"
            ),
            "dst",
        )
    )
    lo_first = (F.col("deg_s") < F.col("deg_d")) | (
        (F.col("deg_s") == F.col("deg_d")) & (F.col("src") < F.col("dst"))
    )
    oriented = e.select(
        F.when(lo_first, F.col("src")).otherwise(F.col("dst")).alias("a"),
        F.when(lo_first, F.col("dst")).otherwise(F.col("src")).alias("b"),
    )
    nbrs = oriented.groupBy(F.col("a").alias("node")).agg(
        F.sort_array(F.collect_list("b")).alias("nb")
    )
    with_a = oriented.join(
        nbrs.select(F.col("node").alias("a"), F.col("nb").alias("nb_a")),
        "a",
    )
    with_b = with_a.join(
        nbrs.select(F.col("node").alias("b"), F.col("nb").alias("nb_b")),
        "b",
        "left",
    )
    per_edge = with_b.select(
        F.size(
            F.array_intersect(
                F.col("nb_a"),
                F.coalesce(F.col("nb_b"), F.array().cast("array<bigint>")),
            )
        ).cast("bigint").alias("t")
    )
    tri = per_edge.agg(F.sum("t").alias("n_triangles"))
    counts = und.agg(F.count(F.lit(1)).alias("n_edges")).crossJoin(
        deg.agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum(
                F.expr("CAST(deg AS BIGINT) * (deg - 1) div 2")
            ).alias("n_wedges"),
        )
    )
    return counts.crossJoin(tri).select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        F.coalesce(F.col("n_triangles"), F.lit(0).cast("bigint")).alias(
            "n_triangles"
        ),
        (
            F.lit(3).cast("double")
            * F.coalesce(F.col("n_triangles"), F.lit(0).cast("bigint"))
            / F.col("n_wedges")
        ).alias("global_clustering"),
    )


def k_hop_counts(
    edges: DataFrame, seeds: DataFrame, k: int = 3
) -> DataFrame:
    """BFS frontier expansion from `seeds` (one column `seed`): per seed
    and hop (1..k), how many NEW nodes become reachable — the blast-
    radius / influence-horizon census, and the third canonical iterative
    graph pattern beside PageRank (fixed-point) and the CC closure
    (star contraction).

    Each hop is one equi-join of the CURRENT frontier against the edge
    list plus an anti-join against the visited set — set algebra only,
    so results are exactly reproducible in any engine (the oracle chains
    k CTE steps). Frontiers are localCheckpointed per hop: iterative
    joins otherwise stack k plans deep (the clusters.py lineage rule).

    Scale notes: the frontier join shuffles (node-key) only frontier ×
    out-degree rows; the visited set grows monotonically and joins by
    (seed, node) — at web scale you'd bucket both by node and cap hop
    width, which changes constants, not this plan's shape."""
    visited = seeds.select("seed", F.col("seed").alias("node")).distinct()
    frontier = visited
    out = None
    for hop in range(1, k + 1):
        nxt = (
            frontier.join(edges, frontier["node"] == edges["src"])
            .select("seed", F.col("dst").alias("node"))
            .distinct()
            .join(visited, ["seed", "node"], "left_anti")
            .localCheckpoint(eager=True)
        )
        counts = nxt.groupBy("seed").agg(
            F.count(F.lit(1)).alias("n_new")
        ).withColumn("hop", F.lit(hop))
        out = counts if out is None else out.unionByName(counts)
        visited = visited.unionByName(nxt)
        frontier = nxt
    return out.select("seed", "hop", "n_new")


def link_prediction_scores(
    edges: DataFrame, top_k: int = 50, pivot_cap: int = 96
) -> DataFrame:
    """G4 — Jaccard link prediction over a symmetric (src, dst) edge
    list: for every NON-edge pair (u, v) with >= 1 common neighbor,
    score = cn / (deg(u) + deg(v) - cn) — one IEEE division of exact
    BIGINT counts.

    Candidate generation is the scale-critical step: the naive
    edge-edge join on the shared middle node does sum(deg(w)^2) work —
    118M candidate rows on the sf0.1 graph (max degree 412), measured
    25 s. Instead each pivot node keeps its first `pivot_cap` neighbors
    by ascending id (the posting-list rule; capped BEFORE collecting,
    so per-node state is bounded even for hub nodes) and pairs are
    generated IN-ARRAY from one sorted adjacency list per pivot (the
    session_cooccurrence shape) — work is nodes * cap^2 / 2, linear in
    node count at any scale, and the cap is part of the operator
    contract (the oracle replays it: cn counts common neighbors
    WITNESSED through some pivot's capped adjacency). Existing edges
    drop via a left-anti join; degrees stay exact; top_k is
    TakeOrdered on the total order (jaccard DESC, user_a, user_b)."""
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # First `pivot_cap` neighbors by ascending id WITHOUT a window: dst
    # is unique per src (edges are distinct), so slice(array_sort(
    # collect_list), 1, cap) is exactly the row_number-capped list —
    # one hash aggregate replaces the r13 plan's two sorts +
    # WindowGroupLimit pair + row_number pass over the edge list.
    adj = edges.groupBy("src").agg(
        F.slice(
            F.array_sort(F.collect_list("dst")), 1, pivot_cap
        ).alias("nbrs")
    )
    # Respread the node-cardinality adjacency before the cap²/2 pair
    # explode (§2.6): AQE coalesces the tiny post-agg output to 1-2
    # partitions, which serializes the ~6.8M-pair explode + anti-probe
    # + partial agg — the dominant stage (A/B: cn stage 4.3 s -> 1.8 s
    # at sf0.1 with the respread; scale-adaptive width).
    adj = adj.repartition(edges.sparkSession.sparkContext.defaultParallelism)
    pair_arr = F.flatten(
        F.transform(
            F.col("nbrs"),
            lambda x, i: F.transform(
                F.slice(F.col("nbrs"), i + 2, F.size(F.col("nbrs"))),
                lambda y: F.struct(x.alias("u"), y.alias("v")),
            ),
        )
    )
    # (Catalyst pushes the existing-edge anti-join below this aggregate
    # either way — every exploded pair probes the broadcast edge hash,
    # and the partial agg then runs on the survivors.)
    cn = (
        adj.select(F.explode(pair_arr).alias("p"))
        .select("p.u", "p.v")
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("common_neighbors"))
    )
    pred = cn.join(
        edges, (cn.u == edges.src) & (cn.v == edges.dst), "left_anti"
    )
    du = deg.withColumnRenamed("src", "u").withColumnRenamed("deg", "du")
    dv = deg.withColumnRenamed("src", "v").withColumnRenamed("deg", "dv")
    # Broadcast the node-cardinality degree sides explicitly: the
    # planner's post-agg size estimate otherwise picked the PAIR rollup
    # as the build side (collecting ~200k pair rows to broadcast two
    # dim-sized lookups).
    return (
        pred.join(F.broadcast(du), "u")
        .join(F.broadcast(dv), "v")
        .select(
            F.col("u").alias("user_a"),
            F.col("v").alias("user_b"),
            "common_neighbors",
            (
                F.col("common_neighbors")
                / (F.col("du") + F.col("dv") - F.col("common_neighbors"))
            ).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), "user_a", "user_b")
        .limit(top_k)
    )


def k_core(
    edges: DataFrame, k: int | DataFrame = 3, rounds: int = 16
) -> DataFrame:
    """G6 — k-core decomposition by iterative peeling: repeatedly drop
    nodes whose degree within the surviving subgraph is < k; the fixed
    point is the maximal subgraph where every node keeps >= k
    neighbors. Runs a FIXED `rounds` peels (so the DuckDB oracle can
    chain the identical rounds as CTEs — the pagerank fixed-iteration
    pattern) and emits a `converged` certificate column (round R
    population == round R-1) that both engines compute; peeling
    removes at least one node per non-converged round, so rounds=16
    certifies convergence on any graph whose peel sequence is shorter,
    and a false certificate is itself parity-checked. Each round is
    one semi-join + one degree agg on the shrinking edge set,
    localCheckpointed EVERY round: each round references the surviving
    edges three times, so an un-checkpointed chain re-executes a
    3^rounds-wide DAG (measured 8-9 s at sf0.1 on an every-4-rounds
    cadence vs ~3 s per-round — the eager materialization is cheaper
    than one re-evaluation).

    `k` may be an int or a 1-row DataFrame with a single `k` column —
    the latter folds a data-derived threshold into the lazy plan as a
    broadcast scalar join (the whale_revenue_share pattern) instead of
    forcing the caller into an eager driver-side .first() before the
    peel."""
    k_df = k if isinstance(k, DataFrame) else None
    surv = edges
    prev_n = None
    last_n = None
    for r in range(rounds):
        deg = surv.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        if k_df is not None:
            keep = (
                deg.crossJoin(F.broadcast(k_df))
                .filter(F.col("deg") >= F.col("k"))
                .select("src")
            )
        else:
            keep = deg.filter(F.col("deg") >= k).select("src")
        surv = (
            surv.join(keep, "src")
            .join(keep.withColumnRenamed("src", "dst"), "dst")
            .select("src", "dst")
        )
        # Checkpoint EVERY round: each round references the surviving
        # edge set three times (degree agg + both semi-joins), so an
        # un-checkpointed chain re-executes a 3^rounds-wide DAG
        # (measured: every-4-rounds cadence cost 8-9 s at sf0.1 vs ~3 s
        # per-round — the eager materialization is cheaper than one
        # re-evaluation, same as the ranged_cumsum two-branch rule).
        surv = surv.localCheckpoint(eager=True)
        if r == rounds - 2:
            prev_n = surv.select("src").distinct().count()
        if r == rounds - 1:
            last_n = surv.select("src").distinct().count()
    converged = bool(prev_n == last_n)
    return (
        surv.groupBy("src")
        .agg(F.count(F.lit(1)).alias("core_degree"))
        .select(
            F.col("src").alias("user_id"),
            "core_degree",
            F.lit(converged).alias("converged"),
        )
    )


def label_propagation(edges: DataFrame, rounds: int = 4) -> DataFrame:
    """G9 — synchronous label-propagation community detection (Raghavan
    et al. 2007) made DETERMINISTIC: labels start as the node id; each
    round every node adopts the most frequent label among its neighbors
    PLUS ITSELF, ties broken to the SMALLEST label. Classic async LPA
    visits nodes in random order — useless under a parity gate; the
    synchronous min-label rule makes every round a pure function of the
    previous labeling, so a DuckDB chained-CTE oracle replays it
    exactly. The self-vote is the standard damping for synchronous
    LPA's 2-cycle oscillation (a bipartite-ish region otherwise swaps
    labels forever and the certificate can never go green). Fixed
    `rounds` iterations plus a `converged` certificate (labels
    unchanged in the final round) that both engines compute — the
    pagerank/k-core fixed-iteration pattern.

    Each round is one shuffle (edges ⋈ labels on src) + one partial-agg
    label count + a per-node argmax expressed as max(struct(cnt,
    -label)) — the deterministic tie-break without a row_number sort.
    Labels are localCheckpointed per round: the frame feeds both the
    next round's neighbor votes and its self-votes (two-branch rule).

    Returns (user_id, community, converged): community = final label.
    On a graph with modular structure the labels recover it
    (tests/test_graph_intervals.py two-clique hand graph); on a dense
    structureless graph (this generator's uniform co-activity traffic)
    the honest fixed point is one giant community.
    """
    labels = edges.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    ).localCheckpoint(eager=True)
    for _ in range(rounds):
        nbr = edges.join(labels, edges["src"] == labels["node"]).select(
            F.col("dst").alias("n2"), "label"
        )
        own = labels.select(F.col("node").alias("n2"), "label")
        counts = nbr.unionByName(own).groupBy("n2", "label").agg(
            F.count(F.lit(1)).alias("cnt")
        )
        best = (
            counts.groupBy("n2")
            .agg(
                F.max(
                    F.struct(
                        F.col("cnt"), (-F.col("label")).alias("neg")
                    )
                ).alias("s")
            )
            .select(
                F.col("n2").alias("node"),
                (-F.col("s.neg")).alias("label"),
            )
        )
        prev = labels
        labels = best.localCheckpoint(eager=True)
    # convergence certificate: one diff count on the final pair only
    # (both frames are checkpointed, so this is a small hash join, not
    # a lineage replay)
    changed = (
        labels.join(prev.withColumnRenamed("label", "_old"), "node")
        .filter(F.col("label") != F.col("_old"))
        .count()
    )
    return (
        labels.select(
            F.col("node").alias("user_id"),
            F.col("label").alias("community"),
            F.lit(changed == 0).alias("converged"),
        )
    )


# Working scale for HITS score vectors: after each renormalization the
# score sum lands in [HITS_SCALE, 2·HITS_SCALE). 10^12 leaves headroom
# for the next gather (sum ≤ 2e12 · maxdeg ≤ ~2e17 at a 100k-degree
# skew cap) while keeping ~6 significant digits per node at |V| = 10^6.
HITS_SCALE = 10**12


def purchase_edges(
    orders: DataFrame,
    lineitem: DataFrame,
    cache_key: str | None = None,
) -> DataFrame:
    """Distinct customer→supplier purchase edges from orders ⋈ lineitem
    — the bipartite graph G11's HITS runs on. Memoized per corpus with
    the coactivity_edges lifecycle (memo store + eager localCheckpoint):
    the edge list is corpus state shared by every query of the graph
    family, built once per corpus version, not once per call."""
    edges = (
        orders.join(lineitem, orders["o_orderkey"] == lineitem["l_orderkey"])
        .select(
            F.col("o_custkey").alias("src"),
            F.col("l_suppkey").alias("dst"),
        )
        .distinct()
    )
    if not cache_key:
        return edges
    return memo.lookup(
        "purchase-edges",
        cache_key,
        (),
        edges,
        lambda: edges.localCheckpoint(eager=True),
    )


def hits_fixed_point(
    edges: DataFrame, iters: int = 4, pre_checkpointed: bool = False
) -> DataFrame:
    """G11 — HITS hubs & authorities over a DIRECTED edge list, in the
    PageRank fixed-point idiom (graph.py module docstring): scores are
    BIGINT units, each gather is an exact integer sum, and the
    renormalization that text-book HITS does with an L2 norm is an
    integer rescale ``x div greatest(1, Σx div HITS_SCALE)`` — scale-
    invariant ranking is all the norm provides, and the integer form
    makes every iteration bit-identical across engines and shuffle
    orders, so the oracle replays the iterations as chained CTEs.

    h₀(u)  = HITS_SCALE div |hubs|                 (u ∈ distinct src)
    aᵢ(v)  = rescale( Σ_{u→v} hᵢ₋₁(u) )           (gather to dst)
    hᵢ(u)  = rescale( Σ_{u→v} aᵢ(v) )             (gather to src)

    Returns one row per node per side: (side 'hub'|'auth', node, units).

    Execution contract: this function EXECUTES the fixed point at call
    time — the mid-loop and final eager localCheckpoints are scheduled
    jobs, and the returned frame is backed by non-reliable local
    checkpoint storage (executor loss discards it; re-call to rebuild).
    Callers compose the RESULT of the iteration, not its plan.

    Scale: the score vectors are |V|-row frames that BROADCAST into the
    edge scan each half-iteration (the pagerank_fixed_point plan shape
    — no edge shuffle, partial-aggregable gathers). The edge list is
    localCheckpointed once up front; past broadcast size, pre-bucket
    edges on src and dst (two bucketed copies) for co-located gathers.
    Checkpoint cadence (the connected_components seam, at the pagerank
    rule's stride): an eager localCheckpoint every 2 full iterations
    truncates the growing lineage mid-loop, and a final eager
    checkpoint of the union truncates it completely, so the RETURNED
    plan is constant-size in ``iters`` (round-10 census: 68 Exchange
    nodes at iters=4 without the final seam; 2 with it). Each
    checkpoint is also the barrier past which the pre-rescale persisted
    frames can never be re-read, so they are unpersisted there — no
    cache accumulation across a bench session.
    """
    if iters < 1:
        raise ValueError(f"hits_fixed_point: iters must be >= 1, got {iters}")
    # edges must be pre-deduplicated by the caller (a duplicate edge
    # would act as an integer weight — deterministic, but not the HITS
    # the oracle replays); no second distinct here, it would re-shuffle
    # the full edge list per call. With pre_checkpointed=True the caller
    # certifies the frame is ALREADY an eager checkpoint (the memoized
    # purchase_edges / coactivity_edges lifecycle) — re-checkpointing it
    # here would re-materialize the whole edge list once per call, the
    # exact per-query cost the corpus-state memo exists to amortize.
    ed = edges.select("src", "dst")
    if not pre_checkpointed:
        ed = ed.localCheckpoint(eager=True)
    hubs = ed.select(F.col("src").alias("node")).distinct()
    nh = hubs.agg(F.count(F.lit(1)).alias("n"))
    h = hubs.crossJoin(F.broadcast(nh)).select(
        "node", F.expr(f"{HITS_SCALE} div n").alias("u")
    )

    cached: list[DataFrame] = []

    def _release() -> None:
        # Only call at a checkpoint barrier: the just-materialized
        # checkpoint is the sole downstream consumer of these frames,
        # so nothing can re-read (and re-trigger) their subplans.
        for f in cached:
            f.unpersist()
        cached.clear()

    def _rescale(scores: DataFrame) -> DataFrame:
        # persist (lazy, not an eager checkpoint job): the gather feeds
        # BOTH the Σu total and the rescaled rows — uncached, every
        # rescale would duplicate its input subplan and the chain would
        # re-evaluate exponentially (the same trap the oracle's
        # MATERIALIZED CTEs avoid on the DuckDB side). Tracked in
        # `cached`; released at the next checkpoint barrier.
        scores = scores.persist()
        cached.append(scores)
        tot = scores.agg(F.sum("u").alias("s"))
        return scores.crossJoin(F.broadcast(tot)).select(
            "node",
            F.expr(f"u div greatest(1L, s div {HITS_SCALE})").alias("u"),
        )

    a = None  # always rebound in iteration 1 (iters >= 1 guarded above)
    for i in range(iters):
        a = _rescale(
            ed.join(
                F.broadcast(h.withColumnRenamed("node", "src")), "src"
            )
            .groupBy("dst")
            .agg(F.sum("u").alias("u"))
            .withColumnRenamed("dst", "node")
        )
        h = _rescale(
            ed.join(
                F.broadcast(a.withColumnRenamed("node", "dst")), "dst"
            )
            .groupBy("src")
            .agg(F.sum("u").alias("u"))
            .withColumnRenamed("src", "node")
        )
        if (i + 1) % 2 == 0 and i + 1 < iters:
            # mid-loop seam: a is consumed by h's gather, so
            # checkpointing h materializes the whole 2-iteration chain.
            h = h.localCheckpoint(eager=True)
            _release()
    out = a.select(
        F.lit("auth").alias("side"), "node", F.col("u").alias("units")
    ).unionByName(
        h.select(
            F.lit("hub").alias("side"), "node", F.col("u").alias("units")
        )
    ).localCheckpoint(eager=True)
    _release()
    return out
