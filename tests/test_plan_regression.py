"""Physical-plan regression gate: the committed PLAN_AUDIT.md census is
a baseline; re-census every registry query and FAIL if an existing
query's shuffle (Exchange) or nested-loop/cartesian-join count GREW — a
deliberate pessimization (dropping an F.broadcast, adding an accidental
shuffle) must be caught by CI, not discovered at 100 TB. Improvements
and new queries don't fail; regenerate the baseline with
`python tools/plan_audit.py` after intentional plan changes.

The census only PLANS (executedPlan is stringified, never run), so the
whole 190+-query sweep is driver-side Catalyst work; queries with an
eager build phase (ANN training, streaming materialize-to-sink) execute
their one-time builds, same as the generator tool.
"""

import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
import plan_audit  # noqa: E402


@pytest.fixture(scope="module")
def fresh_census(spark):
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    rows = plan_audit.census(spark, sf)
    return {r[0]: r for r in rows}


def test_baseline_exists_and_parses():
    committed = plan_audit.parse_committed()
    assert len(committed) >= 150, (
        "PLAN_AUDIT.md missing or unparseable; run python tools/plan_audit.py"
    )


# Queries ALLOWED a nonzero unpartitioned-Window count, each audited to
# run on a domain bounded by construction (r9 audit of all 16 nodes
# across 13 queries; VERDICT r8 item 4). Anything else — including a
# NEW query — planning a global window fails the gate. The largest
# family is plans/scale.ranged_cumsum consumers: its phase-2 offset
# window (`Window.orderBy("_pid")`) IS unpartitioned, but runs over the
# per-range-partition totals frame (≤ n_partitions = 32 rows) — that
# bounded window is the mechanism that REPLACES a global fact-table
# window. Chained calls may surface 1-2 of these per query (earlier
# ones hide behind the localCheckpoint's ExistingRDD seam).
UNPART_WINDOW_WHITELIST = frozenset(
    {
        # --- ranged_cumsum offset window (≤ 32 partition-total rows) ---
        "corpus_shard_plan",
        "customer_snm_pairs",
        "events_cumulative_users",
        "gini_spend",
        "part_revenue_abc",
        "rfm_segments",
        "spend_rank_correlation",
        "whale_revenue_share",
        # ranged_cummax_exclusive carry window (same ≤ 32-row _pid
        # domain as the cumsum offset window above)
        "events_watermark_policy",
        # CCDF rank over the degree HISTOGRAM — domain = distinct degrees
        "degree_distribution",
        # Kaplan-Meier day curve — domain = observation days
        "user_survival_curve",
        # daily growth accounting cum-users — domain = days
        "events_new_vs_returning",
        # RRF fuses two top-50 legs — ≤ 100 rows
        "doc_hybrid_rrf",
        # Hamilton largest-remainder rank — domain = sources (≤ dozens)
        "corpus_mixing_allocation",
    }
)


def test_no_query_plans_with_more_shuffles_or_nl_joins(fresh_census):
    committed = plan_audit.parse_committed()
    regressions, errors = plan_audit.find_regressions(
        committed, fresh_census, UNPART_WINDOW_WHITELIST
    )
    assert not errors, f"queries failed to plan: {errors[:5]}"
    assert not regressions, (
        "plan pessimization vs committed PLAN_AUDIT.md (if intentional, "
        "regenerate with python tools/plan_audit.py): "
        + "; ".join(regressions)
    )


def test_census_covers_registry(fresh_census):
    from floatchat_datapipeline_spark.queries import _base_registry

    missing = set(_base_registry()) - set(fresh_census)
    assert not missing, f"census skipped queries: {sorted(missing)[:5]}"


PYTHON_NODES = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "FlatMapGroupsInPandas",
    "MapInPandas",
    "MapInArrow",
    "FlatMapCoGroupsInPandas",
)


def test_census_counts_every_python_node(fresh_census):
    """Each Python eval node the engine plans is one Arrow seam in the
    census, and the fresh count matches the committed baseline (a node
    name the regex misses would silently read 0)."""
    for node in PYTHON_NODES:
        plan = f"*(1) Project [a#1]\n+- {node} f(a#0)#2, [a#1], false\n"
        assert plan_audit.census_one(plan)[4] == 1, node
    committed = plan_audit.parse_committed()["netcdf_ingest"]  # mapInArrow
    assert fresh_census["netcdf_ingest"][5] == committed["py_nodes"] == 1


def test_gate_detects_a_pessimization(fresh_census):
    """Meta-test: the SHARED find_regressions logic (the same call the
    main test makes) must flag synthetic pessimizations and pass the
    unmodified row — guards against a silently-vacuous gate if the
    table format drifts (ADVICE r8: the old version asserted its own
    construction, never exercising the comparison)."""
    committed = plan_audit.parse_committed()
    name = next(
        n
        for n, r in sorted(fresh_census.items())
        if r[1] != "ERROR"
        and n in committed
        and isinstance(committed[n].get("shuffles"), int)
    )
    clean = {name: fresh_census[name]}
    ok_regs, ok_errs = plan_audit.find_regressions(
        committed, clean, UNPART_WINDOW_WHITELIST
    )
    assert not ok_regs and not ok_errs, (
        f"unmodified row should pass: {ok_regs} {ok_errs}"
    )
    # grown shuffle count trips
    worse = list(fresh_census[name])
    worse[1] = committed[name]["shuffles"] + 1
    regs, _ = plan_audit.find_regressions(
        committed, {name: tuple(worse)}, UNPART_WINDOW_WHITELIST
    )
    assert any("shuffles" in r for r in regs), f"shuffle growth missed: {regs}"
    # a NEW query with an unpartitioned window trips (baseline 0)
    novel = list(fresh_census[name])
    novel[6] = 1
    regs, _ = plan_audit.find_regressions(
        committed, {"brand_new_query": tuple(novel)}, UNPART_WINDOW_WHITELIST
    )
    assert any("unpartitioned" in r for r in regs), (
        f"new-query unpartitioned window missed: {regs}"
    )
    # ... but a whitelisted one does not
    regs, _ = plan_audit.find_regressions(
        committed,
        {"brand_new_query": tuple(novel)},
        UNPART_WINDOW_WHITELIST | {"brand_new_query"},
    )
    assert not regs, f"whitelist not honored: {regs}"
    # an ERROR row is reported through errors, not silently dropped
    _, errs = plan_audit.find_regressions(
        committed, {name: (name, "ERROR", "boom", "", "", "", "", "")}
    )
    assert errs == [(name, "boom")]
