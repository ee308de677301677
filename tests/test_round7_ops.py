"""Round-7 operators: triangle census, sliding distinct, weighted
median, spatial grid join, column profiler, seasonal baseline —
hand-built semantic cases + the plan shapes behind their scale claims."""

from __future__ import annotations

from pyspark.sql import functions as F

from floatchat_datapipeline_spark.plans.checks import plan_string


def test_triangle_stats_hand_graph(spark):
    """K4 minus one edge: nodes 1-4, edges 12,13,14,23,24 (34 missing)
    → triangles {1,2,3} and {1,2,4}; wedges = Σ deg(deg-1)/2 =
    3+3+1+1 = 8."""
    from floatchat_datapipeline_spark.operators.graph import triangle_stats

    und = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src: bigint, dst: bigint"
    )
    r = triangle_stats(edges).first()
    assert r["n_nodes"] == 4
    assert r["n_edges"] == 5
    assert r["n_wedges"] == 8
    assert r["n_triangles"] == 2
    assert abs(r["global_clustering"] - 6.0 / 8.0) < 1e-12


def test_triangle_stats_no_cartesian(spark, sf_dir):
    """The scale-critical stages (orientation joins, wedge join, closure
    semi-join) must all be key-equi joins; the only non-equi joins in
    the full plan are the final 1-row stat-assembly crossJoins. Pin that
    by planning the closure stage alone: zero cartesian/nested-loop."""
    from floatchat_datapipeline_spark.operators.graph import (
        coactivity_edges,
        triangle_stats,
    )
    from floatchat_datapipeline_spark.catalog import load_table

    full = plan_string(
        triangle_stats(coactivity_edges(load_table(spark, sf_dir, "events")))
    )
    # the assembly is two single-row broadcast combines, nothing more
    # (count tree-form tokens; the details section repeats node names)
    assert full.count("BroadcastNestedLoopJoin Cross") <= 2, full
    assert "CartesianProduct" not in full, full
    # and the wedge/closure machinery itself is equi-join only: strip
    # the assembly by planning the census WITHOUT the final crossJoins
    edges = coactivity_edges(load_table(spark, sf_dir, "events"))
    und = edges.filter(F.col("src") < F.col("dst"))
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
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
    plan = plan_string(e)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_sliding_distinct_users_hand_case(spark):
    """User 1 active at hours 0 and 30; user 2 at hour 1. Window ending
    hour 1 sees both; hour 30 sees only user 1 again (hour 0 aged out);
    hours 2..24 (from h=1 contribution) see user 2 etc. Check a few
    cells exactly."""
    from floatchat_datapipeline_spark.operators.windows import (
        sliding_distinct_users,
    )

    rows = [
        (1, "2024-01-01 00:10:00"),
        (1, "2024-01-02 06:20:00"),  # hour 30
        (2, "2024-01-01 01:30:00"),
    ]
    df = spark.createDataFrame(rows, "user_id: bigint, ts: string").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts")
    )
    got = {
        str(r["hour"]): r["n_users_trailing"]
        for r in sliding_distinct_users(df).collect()
    }
    # observed hours only: 00, 01, 30
    assert got == {
        "2024-01-01 00:00:00": 1,
        "2024-01-01 01:00:00": 2,
        "2024-01-02 06:00:00": 1,
    }


def test_weighted_median_hand_cases(spark):
    from floatchat_datapipeline_spark.operators.aggregate import (
        weighted_median,
    )

    rows = [
        # group a: values 1(w1), 2(w1), 3(w2): W=4, half=2 → cum at 2 is 2
        # → 2*2 >= 4 → lower median 2
        ("a", 1, 1), ("a", 2, 1), ("a", 3, 2),
        # group b: single value
        ("b", 7, 5),
        # group c: duplicate rows collapse; 5(w3) 9(w1): median 5
        ("c", 5, 1), ("c", 5, 2), ("c", 9, 1),
    ]
    df = spark.createDataFrame(rows, "g: string, v: bigint, w: bigint")
    got = {
        r["g"]: (r["w_median"], r["total_weight"])
        for r in weighted_median(df, ["g"], "v", "w").collect()
    }
    assert got == {"a": (2, 4), "b": (7, 5), "c": (5, 4)}


def test_grid_close_pairs_matches_brute_force(spark, sf_dir):
    """The 3×3 grid join must find EXACTLY the pairs a brute-force cross
    join finds (the neighborhood is exhaustive for radius ≤ cell
    coverage) — checked on the sf customer sample."""
    from floatchat_datapipeline_spark.catalog import load_table
    from floatchat_datapipeline_spark.operators.spatial import (
        grid_close_pairs,
        hash_coords,
        haversine_km,
    )

    pts = hash_coords(
        load_table(spark, sf_dir, "customer").limit(400), "c_custkey"
    ).withColumnRenamed("c_custkey", "id")
    got = (
        grid_close_pairs(pts)
        .agg(F.sum("n_pairs"), F.sum("sum_dist_m"))
        .first()
    )
    a = pts.select(
        F.col("id").alias("ia"),
        F.col("lat").alias("la"),
        F.col("lon").alias("na"),
    )
    b = pts.select(
        F.col("id").alias("ib"),
        F.col("lat").alias("lb"),
        F.col("lon").alias("nb"),
    )
    dist_m = F.round(
        haversine_km(F.col("la"), F.col("na"), F.col("lb"), F.col("nb"))
        * 1000.0,
        0,
    ).cast("bigint")
    brute = (
        a.crossJoin(b)
        .filter(F.col("ia") < F.col("ib"))
        .select(dist_m.alias("d"))
        .filter(F.col("d") <= 250_000)
        .agg(F.count(F.lit(1)), F.sum("d"))
        .first()
    )
    assert (got[0] or 0) == brute[0]
    assert (got[1] or 0) == (brute[1] or 0)


def test_grid_close_pairs_plan_has_no_cartesian(spark, sf_dir):
    from floatchat_datapipeline_spark.catalog import load_table
    from floatchat_datapipeline_spark.operators.spatial import (
        grid_close_pairs,
        hash_coords,
    )

    pts = hash_coords(
        load_table(spark, sf_dir, "customer"), "c_custkey"
    ).withColumnRenamed("c_custkey", "id")
    plan = plan_string(grid_close_pairs(pts))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_profile_columns_null_and_string_semantics(spark):
    from floatchat_datapipeline_spark.operators.profiling import (
        profile_columns,
    )

    df = spark.createDataFrame(
        [(1, "ab"), (2, None), (None, "c")], "k: bigint, s: string"
    )
    got = {
        r["column"]: r
        for r in profile_columns(df, "t", ["k", "s"]).collect()
    }
    assert got["k"]["n_rows"] == 3 and got["k"]["n_null"] == 1
    assert got["k"]["n_distinct"] == 2
    assert got["k"]["sum_len"] is None  # non-string: no length mass
    assert got["s"]["n_null"] == 1 and got["s"]["sum_len"] == 3


def test_seasonal_baseline_flags_only_true_spikes(spark):
    from floatchat_datapipeline_spark.operators.timeseries import (
        seasonal_baseline_spikes,
    )

    rows = [
        # type x, hour 3: three days of cents 100, one day of 900
        ("2024-01-01 03:00:01", "x", 1.00),
        ("2024-01-02 03:00:01", "x", 1.00),
        ("2024-01-03 03:00:01", "x", 1.00),
        ("2024-01-04 03:00:01", "x", 9.00),
    ]
    df = spark.createDataFrame(
        rows, "ts: string, event_type: string, value: double"
    ).select(
        F.col("ts").cast("timestamp").alias("ts"), "event_type", "value"
    )
    got = {r["day"]: r["is_spike"] for r in seasonal_baseline_spikes(df).collect()}
    # baseline mean = 1200/4 = 300; spike iff cents > 600
    assert got == {
        "2024-01-01": False,
        "2024-01-02": False,
        "2024-01-03": False,
        "2024-01-04": True,
    }


def test_mixing_allocation_sums_to_budget_and_orders_remainders(spark):
    from floatchat_datapipeline_spark.operators.sampling import (
        mixing_allocation,
    )

    # masses 1,1,1 with budget 100: base 33 each, leftover 1 goes to the
    # lexicographically-first stratum (equal remainders)
    df = spark.createDataFrame(
        [("a", 1), ("b", 1), ("c", 1)], "source: string, n_chars: bigint"
    )
    got = {
        r["source"]: r["alloc"]
        for r in mixing_allocation(df, budget=100).collect()
    }
    assert got == {"a": 34, "b": 33, "c": 33}
    assert sum(got.values()) == 100
    # skewed masses: exact proportionality of the base quotas
    df2 = spark.createDataFrame(
        [("x", 7), ("y", 2), ("z", 1)], "source: string, n_chars: bigint"
    )
    got2 = {
        r["source"]: r["alloc"]
        for r in mixing_allocation(df2, budget=10).collect()
    }
    assert sum(got2.values()) == 10 and got2["x"] == 7


def test_char_entropy_flags_repetitive_text(spark):
    from floatchat_datapipeline_spark.operators.langmodel import char_entropy

    import math

    df = spark.createDataFrame(
        [(1, "aaaaaaaaaa"), (2, "abcdefghij"), (3, "")],
        "doc_id: bigint, text: string",
    )
    got = {r["doc_id"]: r for r in char_entropy(df).collect()}
    assert got[1]["entropy"] == 0.0 and got[1]["low_entropy"]
    assert abs(got[2]["entropy"] - round(math.log(10), 6)) < 1e-9
    assert not got[2]["low_entropy"]
    assert 3 not in got  # empty docs drop (both engines)


def test_distribution_drift_cross_multiply_gate(spark):
    from floatchat_datapipeline_spark.operators.profiling import (
        distribution_drift,
    )

    rows = []
    # first half (hours 0..9): 50 a, 50 b; second half (10..19): 90 a, 10 b
    for i in range(50):
        rows.append(("a", f"2024-01-01 0{i % 10}:00:{i % 60:02d}"))
        rows.append(("b", f"2024-01-01 0{i % 10}:01:{i % 60:02d}"))
    for i in range(90):
        rows.append(("a", f"2024-01-01 1{i % 10}:02:{i % 60:02d}"))
    for i in range(10):
        rows.append(("b", f"2024-01-01 1{i % 10}:03:{i % 60:02d}"))
    df = spark.createDataFrame(
        rows, "event_type: string, ts: string"
    ).select("event_type", F.col("ts").cast("timestamp").alias("ts"))
    got = {r["event_type"]: r for r in distribution_drift(df).collect()}
    # shares: a 50% -> 90%, b 50% -> 10% — both drift at the 5% gate
    assert got["a"]["drifted"] and got["b"]["drifted"]
    assert got["a"]["n_first"] + got["a"]["n_second"] == 140


def test_seasonal_baseline_broadcasts_tiny_baseline(spark, sf_dir):
    """The (type × 24) baseline must ride a broadcast join back onto the
    cell rollup — a shuffle join there would re-shuffle the cells for a
    ≤120-row dim."""
    from floatchat_datapipeline_spark.catalog import load_table
    from floatchat_datapipeline_spark.operators.timeseries import (
        seasonal_baseline_spikes,
    )

    plan = plan_string(
        seasonal_baseline_spikes(load_table(spark, sf_dir, "events"))
    )
    assert "BroadcastHashJoin" in plan, plan


def test_abc_window_runs_over_collapsed_part_domain(spark, sf_dir):
    """part_revenue_abc's cumulative window must consume the per-part
    aggregate (dim-sized sort), and the lineitem scan must be pruned to
    the 3 revenue columns — a fact-wide scan or a pre-agg window means
    the collapse regressed."""
    from floatchat_datapipeline_spark.queries import q_part_revenue_abc

    plan = plan_string(q_part_revenue_abc(spark, sf_dir))
    assert "Window" in plan
    # column pruning: no unrelated lineitem columns in the scan schema
    assert "l_comment" not in plan and "l_shipdate" not in plan, plan
    # formatted plans print root-first: the first HashAggregate is the
    # final class rollup sitting ABOVE the window, and the per-part
    # collapse appears again below it — i.e. ≥2 aggregates bracketing
    # the Window node
    assert plan.index("HashAggregate") < plan.index("Window")
    assert plan.count("HashAggregate (") >= 2 or plan.count("HashAggregate") >= 2


def test_mixing_allocation_window_is_dim_sized(spark, sf_dir):
    """The remainder-ranking window partitions nothing (global order),
    which is only acceptable because its input is the n_strata-row
    summary — pin that the window consumes an aggregate, and that the
    documents scan reads only (source, n_chars)."""
    from floatchat_datapipeline_spark.queries import (
        q_corpus_mixing_allocation,
    )

    plan = plan_string(q_corpus_mixing_allocation(spark, sf_dir))
    # formatted plans print root-first: the Window sits ABOVE (before)
    # the corpus aggregate it consumes
    assert "Window" in plan and "HashAggregate" in plan
    assert plan.index("Window") < plan.index("HashAggregate")
    import re

    scans = re.findall(r"ReadSchema: struct<[^>]*>", plan)
    doc_scans = [s for s in scans if "n_chars" in s]
    assert doc_scans and all("text" not in s for s in doc_scans), scans


def test_new_vs_returning_hand_case(spark):
    from floatchat_datapipeline_spark.operators.windows import (
        new_vs_returning,
    )

    rows = [
        (1, "2024-01-01 10:00:00"),
        (2, "2024-01-01 11:00:00"),
        (1, "2024-01-02 10:00:00"),  # returning
        (3, "2024-01-02 12:00:00"),  # new
        (1, "2024-01-02 13:00:00"),  # same-day dup: one active row
    ]
    df = spark.createDataFrame(rows, "user_id: bigint, ts: string").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts")
    )
    got = {r["day"]: r for r in new_vs_returning(df).collect()}
    d1, d2 = got["2024-01-01"], got["2024-01-02"]
    assert (d1["n_active"], d1["n_new"], d1["n_returning"], d1["cum_users"]) == (2, 2, 0, 2)
    assert (d2["n_active"], d2["n_new"], d2["n_returning"], d2["cum_users"]) == (2, 1, 1, 3)


def test_grid_hotspots_isolated_cluster_flags(spark):
    from floatchat_datapipeline_spark.operators.spatial import grid_hotspots

    # 10 points in one cell, 1 point in a far-away cell: the dense cell's
    # neighborhood sum is 10 (others empty) → 90 > 20 → hotspot; the
    # lone point: 9 > 2 → also "hotspot" relative to its empty
    # neighborhood — the gate is local, both flag
    rows = [(i, 1.0 + i * 1e-4, 1.0) for i in range(10)] + [(99, 51.0, 51.0)]
    pts = spark.createDataFrame(rows, "id: bigint, lat: double, lon: double")
    got = {(r["cell_lat"], r["cell_lon"]): r for r in grid_hotspots(pts).collect()}
    assert got[(0, 0)]["n"] == 10 and got[(0, 0)]["is_hotspot"]
    assert got[(10, 10)]["n"] == 1 and got[(10, 10)]["is_hotspot"]
    # add diffuse neighbors around a single point: no longer a hotspot
    rows2 = [(0, 0.5, 0.5)] + [
        (i + 1, 0.5 + dy * 5.0, 0.5 + dx * 5.0)
        for i, (dy, dx) in enumerate(
            (a, b) for a in (-1, 0, 1) for b in (-1, 0, 1) if (a, b) != (0, 0)
        )
    ]
    pts2 = spark.createDataFrame(rows2, "id: bigint, lat: double, lon: double")
    got2 = {(r["cell_lat"], r["cell_lon"]): r for r in grid_hotspots(pts2).collect()}
    center = got2[(0, 0)]
    assert center["nb_sum"] == 9 and not center["is_hotspot"]


def test_edge_cache_lifecycle(spark, sf_dir):
    """coactivity_edges(cache_key=...) must serve the SAME checkpointed
    relation on a hit and rebuild after reset (the LSH-index memo
    contract applied to the graph family)."""
    from floatchat_datapipeline_spark import memo
    from floatchat_datapipeline_spark.catalog import load_table
    from floatchat_datapipeline_spark.operators.graph import coactivity_edges

    memo.reset()
    ev = load_table(spark, sf_dir, "events")
    e1 = coactivity_edges(ev, cache_key="t7")
    e2 = coactivity_edges(ev, cache_key="t7")
    assert e1 is e2  # memo hit returns the identical checkpointed DF
    n = e1.count()
    memo.reset()
    e3 = coactivity_edges(ev, cache_key="t7")
    assert e3 is not e1 and e3.count() == n
    memo.reset()


def test_ranged_cumsum_equals_global_window(spark):
    """The two-phase range-partitioned cumsum must equal the
    single-partition global window for every row, including duplicate
    VALUES (the order is totalized by the id tie-break)."""
    from pyspark.sql import Window

    from floatchat_datapipeline_spark.plans.scale import ranged_cumsum

    rows = [(i, (i * 37) % 11) for i in range(1000)]
    df = spark.createDataFrame(rows, "id: bigint, v: bigint")
    order = [F.desc("v"), F.col("id")]
    w = Window.orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    want = {r["id"]: r["c"] for r in df.select("id", F.sum("v").over(w).alias("c")).collect()}
    got = {
        r["id"]: r["c"]
        for r in ranged_cumsum(df, order, "v", out_col="c", n_partitions=7).collect()
    }
    assert got == want


def test_abc_plan_has_no_single_partition_window(spark, sf_dir):
    """After the ranged_cumsum swap, part_revenue_abc's plan must not
    contain a partition-less Window over the part domain: every Window
    node partitions by _pid (the range bucket) or the tiny offsets
    domain."""
    from floatchat_datapipeline_spark.queries import q_part_revenue_abc

    plan = plan_string(q_part_revenue_abc(spark, sf_dir))
    # the per-part cumsum Window must carry the _pid partition spec
    # (formatted style: windowspecdefinition(_pid#N, cents#M DESC ...))
    import re

    assert re.search(r"windowspecdefinition\(_pid#\d+, cents", plan), plan
    # and exactly one partition-less window remains: the tiny
    # per-partition-totals prefix (ordered by _pid alone)
    global_specs = re.findall(
        r"windowspecdefinition\((?!_pid#\d+,)[^)]*\)", plan
    )
    assert all("_pid" in sp for sp in global_specs), global_specs


def test_k_hop_counts_hand_graph(spark):
    """Path graph 1-2-3-4 (symmetric), seed {1}: hop1 → {2}, hop2 → {3},
    hop3 → {4}; already-visited nodes never recount."""
    from floatchat_datapipeline_spark.operators.graph import k_hop_counts

    und = [(1, 2), (2, 3), (3, 4)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src: bigint, dst: bigint"
    )
    seeds = spark.createDataFrame([(1,)], "seed: bigint")
    got = {
        (r["seed"], r["hop"]): r["n_new"]
        for r in k_hop_counts(edges, seeds, k=3).collect()
    }
    assert got == {(1, 1): 1, (1, 2): 1, (1, 3): 1}


def test_cusum_flags_sustained_shift_and_resets(spark):
    """Flat 100-cent hours, then a sustained jump to 250: target ≈ mean,
    S⁺ accumulates past h within a few shifted hours, alarms, resets,
    and alarms again while the shift persists; no 'down' alarms."""
    from floatchat_datapipeline_spark.operators.timeseries import (
        cusum_changepoints,
    )

    rows = []
    for i in range(20):
        rows.append((f"2024-01-01 {i:02d}:00:01", "x", 1.00))
    for i in range(4):
        rows.append((f"2024-01-02 {i:02d}:00:01", "x", 2.50))
    df = spark.createDataFrame(
        rows, "ts: string, event_type: string, value: double"
    ).select(
        F.col("ts").cast("timestamp").alias("ts"), "event_type", "value"
    )
    got = sorted(
        (r["hx"], r["s_pos"], r["s_neg"], r["direction"])
        for r in cusum_changepoints(df).collect()
    )
    # pure-python replay of the documented recurrence (target = global
    # integer mean → the flat phase sits BELOW target and alarms 'down',
    # the shifted phase alarms 'up')
    cents = [100] * 20 + [250] * 4
    hxs = list(range(473352, 473352 + 20)) + list(
        range(473376, 473376 + 4)
    )
    target = sum(cents) // len(cents)
    slack, h = target // 20, target
    sp = sn = 0
    want = []
    for hx, c in zip(hxs, cents):
        sp_at = max(0, sp + (c - target - slack))
        sn_at = max(0, sn + (target - slack - c))
        if sp_at > h or sn_at > h:
            want.append(
                (hx, sp_at, sn_at, "up" if sp_at > h else "down")
            )
            sp = sn = 0
        else:
            sp, sn = sp_at, sn_at
    assert got == sorted(want)
    assert {d for _, _, _, d in got} == {"down", "up"}


def test_ppjoin_lossless_vs_bruteforce(spark, sf_dir):
    """L22 — prefix filtering must return EXACTLY the pairs the full
    inverted-index exact join finds at the same threshold (Jaccard >=
    1/2). ngram_jaccard_pairs at threshold 0.5 is the brute-force twin
    (its df cap never binds at test scale)."""
    from floatchat_datapipeline_spark.catalog import load_table
    from floatchat_datapipeline_spark.operators.dedup import (
        ngram_jaccard_pairs,
        ppjoin_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    pp = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in ppjoin_pairs(docs).collect()
    }
    brute = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert pp == brute and pp


def test_ppjoin_hand_case_prefix_math(spark):
    """4-token sets with an exact boundary pair: A={a,b,c,d},
    B={a,b,c,e} → jaccard 3/5 >= 1/2 (kept); C={a,x,y,z} vs A →
    1/7 (dropped). Tokens are single words so shingle_n=1."""
    from floatchat_datapipeline_spark.operators.dedup import ppjoin_pairs

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e"), (3, "a x y z")],
        "doc_id: bigint, text: string",
    )
    out = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ppjoin_pairs(docs, shingle_n=1).collect()
    }
    assert set(out) == {(1, 2)}
    assert abs(out[(1, 2)] - 0.6) < 1e-9


def test_ppjoin_no_cartesian_and_prunes(spark, sf_dir):
    """The candidate stage must be a key-equi join (no cartesian /
    nested-loop anywhere in the plan), and the threshold filters must
    ride integer comparisons (visible as '* 2' predicates), not float
    rounds."""
    from floatchat_datapipeline_spark.catalog import load_table
    from floatchat_datapipeline_spark.operators.dedup import ppjoin_pairs

    plan = plan_string(ppjoin_pairs(load_table(spark, sf_dir, "documents")))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
