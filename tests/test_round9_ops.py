"""Unit/property tests for the round-8 operator batch beyond the oracle
gate: invariants the DuckDB hash can't state directly (conservation,
shortlist recall, wrap exhaustiveness)."""

import pytest
from pyspark.sql import functions as F

from floatchat_datapipeline_spark.queries import (
    q_emb_rp_topk,
    q_events_positional_attribution,
)


def test_positional_attribution_conserves_cents(spark, sf_dir):
    """Σ credited cents == Σ cents of purchases that HAVE ≥1 touch in
    the 72 h window — the invariant the 40/20/40 + largest-remainder
    split is designed to hold exactly (no cent created or lost)."""
    from floatchat_datapipeline_spark.catalog import load_table
    from floatchat_datapipeline_spark.functions.eventtime import (
        epoch_seconds,
    )

    credited = (
        q_events_positional_attribution(spark, sf_dir)
        .agg(F.sum("credited_cents"))
        .first()[0]
    )
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        epoch_seconds(F.col("ts")).alias("es"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").alias("p")
    touches = ev.filter(
        F.col("event_type").isin("click", "view", "signup")
    ).alias("t")
    with_touch = (
        purchases.join(
            touches,
            (F.col("p.user_id") == F.col("t.user_id"))
            & (F.col("t.es") < F.col("p.es"))
            & (F.col("t.es") >= F.col("p.es") - 72 * 3600),
            "left_semi",
        )
        .agg(F.sum("cents"))
        .first()[0]
    )
    assert credited == with_touch


def test_rp_shortlist_contains_exact_top10(spark, sf_dir):
    """JL shortlist recall@10 vs brute force must stay high (measured
    10/10 at every SF with m=32/512; the m=16/256 config scored 6/10 at
    sf0.1, which is why the tuning is pinned). The oracle hashes the
    approximation either way — this test pins its QUALITY."""
    from floatchat_datapipeline_spark.catalog import load_table

    got = {r["vec_id"] for r in q_emb_rp_topk(spark, sf_dir).collect()}
    emb = load_table(spark, sf_dir, "embeddings")
    q64 = F.expr(
        "transform(embedding, x -> "
        "cast(round(cast(x as double) * 10000) as bigint))"
    )
    base = emb.select("vec_id", q64.alias("q64"))
    qrow = base.filter(F.col("vec_id") == 0).select(
        F.col("q64").alias("qq")
    )
    brute = (
        base.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qrow))
        .select(
            "vec_id",
            F.expr(
                "aggregate(zip_with(q64, qq, (a, b) -> (a-b)*(a-b)), "
                "0L, (acc, x) -> acc + x)"
            ).alias("d"),
        )
        .orderBy("d", "vec_id")
        .limit(10)
    )
    want = {r["vec_id"] for r in brute.collect()}
    assert len(got & want) >= 8, f"recall {len(got & want)}/10"


@pytest.mark.parametrize(
    "cents,n", [(1, 3), (2, 3), (4, 3), (99, 7), (100, 2), (101, 1), (7, 5)]
)
def test_u_shape_split_closed_form_conserves(cents, n):
    """The closed-form credit rule sums to cents for every (cents, n)."""
    if n == 1:
        credits = [cents]
    elif n == 2:
        credits = [cents - cents // 2, cents // 2]
    else:
        forty = (cents * 2) // 5
        pool = cents - 2 * forty
        base, rem = pool // (n - 2), pool % (n - 2)
        credits = (
            [forty]
            + [base + (1 if k <= rem else 0) for k in range(1, n - 1)]
            + [forty]
        )
    assert sum(credits) == cents
    assert len(credits) == n


def test_trade_edges_memoized_per_session(spark, sf_dir):
    """G6 k-core and G8 assortativity share one edge build per
    (corpus, session) — a second call must return the SAME checkpointed
    DataFrame, and the memo key must carry the applicationId (the
    coactivity-edge session-restart rule)."""
    from floatchat_datapipeline_spark import memo
    from floatchat_datapipeline_spark import queries as Q

    e1 = Q._trade_edges(spark, sf_dir)
    e2 = Q._trade_edges(spark, sf_dir)
    assert e1 is e2
    app = spark.sparkContext.applicationId
    assert any(
        s[0] == "trade-edges" and s[3] == app for s in memo._STORE
    ), "memo key must include applicationId"


def test_bench_snapshot_contention_gates():
    """The committed-bench tool must expose the contention thresholds the
    round process relies on (refuse load>2 ambient / probe>0.5)."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
    import bench_snapshot

    assert bench_snapshot.MAX_LOAD == 2.0
    assert bench_snapshot.MAX_PROBE == 0.5


# ---------------------------------------------------------- round-9 batch
def test_label_propagation_recovers_two_cliques(spark):
    """Two 4-cliques joined by one bridge edge: LPA must give each
    clique its own community (min member's label) and converge — the
    self-vote keeps the bridge endpoints loyal to their cliques."""
    from floatchat_datapipeline_spark.operators.graph import (
        label_propagation,
    )

    def clique(ids):
        return [(a, b) for a in ids for b in ids if a != b]

    pairs = clique([1, 2, 3, 4]) + clique([10, 11, 12, 13])
    pairs += [(4, 10), (10, 4)]  # bridge
    edges = spark.createDataFrame(pairs, "src long, dst long")
    out = {
        r["user_id"]: r for r in label_propagation(edges, rounds=4).collect()
    }
    assert {out[i]["community"] for i in (1, 2, 3, 4)} == {1}
    assert {out[i]["community"] for i in (10, 11, 12, 13)} == {10}
    assert all(r["converged"] for r in out.values())


def test_label_propagation_tie_breaks_to_min_label(spark):
    """A node whose neighbor labels tie must adopt the SMALLEST label
    (the determinism rule the oracle's row_number replay depends on):
    path 5-20-7 after one round gives node 20 votes {5:1, 7:1, 20:1} —
    all tied, min wins."""
    from floatchat_datapipeline_spark.operators.graph import (
        label_propagation,
    )

    pairs = [(5, 20), (20, 5), (7, 20), (20, 7)]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    out = {
        r["user_id"]: r["community"]
        for r in label_propagation(edges, rounds=1).collect()
    }
    assert out[20] == 5


def test_mannwhitney_hand_cases(spark, tmp_path):
    """Separated samples: A=[1,2,3] B=[4,5,6] -> U_a = 0, z < 0, no
    ties. Tied sample: A=[.01,.01] B=[.01,.02] -> U_a = 1 (2U=2) and
    tie3 = 3^3-3 = 24."""
    import datetime as dt

    import pandas as pd

    from floatchat_datapipeline_spark.queries import q_events_mannwhitney

    base = dt.datetime(2024, 3, 1)
    rows = []
    # variant by user parity: even user -> A, odd -> B
    for i, v in enumerate([0.01, 0.02, 0.03]):
        rows.append(("sep", 2 * i, v))
    for i, v in enumerate([0.04, 0.05, 0.06]):
        rows.append(("sep", 2 * i + 1, v))
    for i, v in enumerate([0.01, 0.01]):
        rows.append(("tied", 2 * i, v))
    for i, v in enumerate([0.01, 0.02]):
        rows.append(("tied", 2 * i + 1, v))
    events = pd.DataFrame(
        {
            "event_id": range(len(rows)),
            "ts": [base] * len(rows),
            "user_id": [r[1] for r in rows],
            "event_type": [r[0] for r in rows],
            "value": [r[2] for r in rows],
            "props": ["{}"] * len(rows),
        }
    )
    events.to_parquet(tmp_path / "events.parquet")
    out = {
        r["event_type"]: r
        for r in q_events_mannwhitney(spark, str(tmp_path)).collect()
    }
    sep = out["sep"]
    assert sep["u2_a"] == 0 and sep["tie3"] == 0 and sep["z"] < 0
    tied = out["tied"]
    assert tied["u2_a"] == 2 and tied["tie3"] == 24


def test_cuped_perfect_covariate_gives_rho2_one(spark, tmp_path):
    """post = 2 * pre per user (exact deciunits) -> theta == 2.0 and
    rho2 == 1.0 EXACTLY (integer moment sums make the double tree
    exact), and each variant's adjusted mean equals the pooled-mean
    prediction."""
    import datetime as dt

    import pandas as pd

    from floatchat_datapipeline_spark.queries import q_events_cuped

    pre, post = dt.datetime(2024, 3, 1), dt.datetime(2024, 3, 29)
    rows = []
    for u, x in [(0, 1.0), (1, 2.0), (2, 4.0), (3, 7.0)]:
        rows.append((u, pre, x))
        rows.append((u, post, 2 * x))
    events = pd.DataFrame(
        {
            "event_id": range(len(rows)),
            "ts": [r[1] for r in rows],
            "user_id": [r[0] for r in rows],
            "event_type": ["purchase"] * len(rows),
            "value": [r[2] for r in rows],
            "props": ["{}"] * len(rows),
        }
    )
    events.to_parquet(tmp_path / "events.parquet")
    out = {r["variant"]: r for r in q_events_cuped(spark, str(tmp_path)).collect()}
    assert out[0]["theta"] == 2.0 and out[0]["rho2"] == 1.0
    # adjusted means: variance from the covariate is fully removed, so
    # both variants collapse to the pooled mean of y = 2 * pooled mean x
    pooled_y = 2 * (10 + 20 + 40 + 70) / 4.0
    assert abs(out[0]["adj_mean_post"] - pooled_y) < 1e-9
    assert abs(out[1]["adj_mean_post"] - pooled_y) < 1e-9


def test_weighted_sample_prefers_heavy_docs(spark, tmp_path):
    """E-S keys: with one 10^6-char doc among 1-char docs, the heavy doc
    must be sampled (its key ln(u)/w is ~10^6 x closer to zero), and the
    output is deterministic across runs."""
    import pandas as pd

    from floatchat_datapipeline_spark.queries import q_doc_weighted_sample

    docs = pd.DataFrame(
        {
            "doc_id": range(200),
            "text": ["x"] * 200,
            "lang": ["en"] * 200,
            "source": ["s"] * 200,
            "n_chars": [1_000_000] + [1] * 199,
        }
    )
    docs.to_parquet(tmp_path / "documents.parquet")
    got1 = q_doc_weighted_sample(spark, str(tmp_path)).collect()
    got2 = q_doc_weighted_sample(spark, str(tmp_path)).collect()
    assert got1 == got2
    ids = [r["doc_id"] for r in got1]
    assert 0 in ids and len(ids) == 100


def test_changepoint_finds_level_shift(spark, tmp_path):
    """A clean level shift (rate 1/h for 48 h, then 5/h for 48 h) must
    split exactly at the shift boundary with left/right means 1 and 5."""
    import datetime as dt

    import pandas as pd

    from floatchat_datapipeline_spark.queries import q_events_changepoint

    base = dt.datetime(2024, 3, 1)
    rows = []
    for h in range(96):
        for k in range(1 if h < 48 else 5):
            rows.append(base + dt.timedelta(hours=h, minutes=k + 1))
    events = pd.DataFrame(
        {
            "event_id": range(len(rows)),
            "ts": rows,
            "user_id": [1] * len(rows),
            "event_type": ["shift"] * len(rows),
            "value": [1.0] * len(rows),
            "props": ["{}"] * len(rows),
        }
    )
    events.to_parquet(tmp_path / "events.parquet")
    r = q_events_changepoint(spark, str(tmp_path)).first()
    base_hx = int(base.timestamp()) // 3600
    assert r["split_hx"] == base_hx + 47  # last hour of the low segment
    assert r["left_mean"] == 1.0 and r["right_mean"] == 5.0


def test_mannwhitney_matches_brute_force_pair_count(spark, tmp_path):
    """The doubled-midrank formula must equal the DEFINITION
    2U_a = 2·#(a>b) + #(a=b) over all cross pairs — a shared-wrong-
    formula in query+oracle would pass the parity gate but fail this."""
    import datetime as dt
    import random

    import pandas as pd

    from floatchat_datapipeline_spark.queries import q_events_mannwhitney

    rng = random.Random(9)
    base = dt.datetime(2024, 3, 1)
    rows = []
    samples = {}
    for t in ("t1", "t2", "t3"):
        a = [rng.randint(1, 8) / 100 for _ in range(rng.randint(3, 9))]
        b = [rng.randint(1, 8) / 100 for _ in range(rng.randint(3, 9))]
        samples[t] = (a, b)
        for i, v in enumerate(a):
            rows.append((t, 2 * i, v))
        for i, v in enumerate(b):
            rows.append((t, 2 * i + 1, v))
    events = pd.DataFrame(
        {
            "event_id": range(len(rows)),
            "ts": [base] * len(rows),
            "user_id": [r[1] for r in rows],
            "event_type": [r[0] for r in rows],
            "value": [r[2] for r in rows],
            "props": ["{}"] * len(rows),
        }
    )
    events.to_parquet(tmp_path / "events.parquet")
    out = {
        r["event_type"]: r
        for r in q_events_mannwhitney(spark, str(tmp_path)).collect()
    }
    for t, (a, b) in samples.items():
        ca = [round(v * 100) for v in a]
        cb = [round(v * 100) for v in b]
        u2 = sum(
            2 if x > y else (1 if x == y else 0) for x in ca for y in cb
        )
        assert out[t]["u2_a"] == u2, (t, out[t]["u2_a"], u2)
        assert out[t]["n_a"] == len(a) and out[t]["n_b"] == len(b)


def test_rolling_median_matches_pandas(spark, tmp_path):
    """med/mad must equal pandas' centered rolling(25, min_periods=1)
    median on the same zero-filled series (R-7 == numpy median on
    integer windows)."""
    import datetime as dt
    import random

    import pandas as pd

    from floatchat_datapipeline_spark.queries import q_events_rolling_median

    rng = random.Random(5)
    base = dt.datetime(2024, 3, 1)
    rows = []
    for h in range(60):
        for _ in range(rng.randint(0, 6)):  # some hours empty -> gaps
            rows.append(base + dt.timedelta(hours=h, minutes=7))
    events = pd.DataFrame(
        {
            "event_id": range(len(rows)),
            "ts": rows,
            "user_id": [1] * len(rows),
            "event_type": ["m"] * len(rows),
            "value": [1.0] * len(rows),
            "props": ["{}"] * len(rows),
        }
    )
    events.to_parquet(tmp_path / "events.parquet")
    got = (
        q_events_rolling_median(spark, str(tmp_path))
        .toPandas()
        .sort_values("hx")
        .reset_index(drop=True)
    )
    # zero-filled spine from first to last OBSERVED hour
    lo, hi = got.hx.min(), got.hx.max()
    series = pd.Series(0, index=range(lo, hi + 1), dtype=float)
    for _, r in got.iterrows():
        series[r.hx] = r.x
    med = series.rolling(25, center=True, min_periods=1).median()
    assert list(got.med) == list(med.values)
    mad = (
        (series - med)
        .abs()
        .rolling(25, center=True, min_periods=1)
        .median()
    )
    # pandas MAD here subtracts the ROLLING med at the deviation's own
    # position; the query subtracts the anchor's med from each window
    # member — equal only when med is locally flat, so compare MAD via
    # explicit windows instead:
    import numpy as np

    for i, r in got.iterrows():
        w = series.loc[max(lo, r.hx - 12): r.hx + 12]  # label-inclusive
        assert r["mad"] == float(np.median(np.abs(w.values - r["med"])))


def test_cuped_theta_matches_numpy_lstsq(spark, tmp_path):
    """theta must equal the OLS slope of y on x (numpy lstsq) within
    1e-9 on a random integer sample."""
    import datetime as dt
    import random

    import numpy as np
    import pandas as pd

    from floatchat_datapipeline_spark.queries import q_events_cuped

    rng = random.Random(7)
    pre, post = dt.datetime(2024, 3, 1), dt.datetime(2024, 3, 29)
    rows, xs, ys = [], [], []
    for u in range(12):
        x = rng.randint(1, 50) / 10
        y = rng.randint(1, 50) / 10
        xs.append(round(x * 10))
        ys.append(round(y * 10))
        rows.append((u, pre, x))
        rows.append((u, post, y))
    events = pd.DataFrame(
        {
            "event_id": range(len(rows)),
            "ts": [r[1] for r in rows],
            "user_id": [r[0] for r in rows],
            "event_type": ["e"] * len(rows),
            "value": [r[2] for r in rows],
            "props": ["{}"] * len(rows),
        }
    )
    events.to_parquet(tmp_path / "events.parquet")
    out = q_events_cuped(spark, str(tmp_path)).first()
    x = np.array(xs, dtype=float)
    y = np.array(ys, dtype=float)
    a = np.vstack([x, np.ones_like(x)]).T
    slope = np.linalg.lstsq(a, y, rcond=None)[0][0]
    assert abs(out["theta"] - slope) < 1e-9
