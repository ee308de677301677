"""Generate PLAN_AUDIT.md — per-query physical-plan hygiene census.

For every registry query, plan (don't execute) the DataFrame and count
the structural signals that matter at 100 TB:

- exchanges (shuffles) in the final plan,
- broadcast joins vs shuffle joins,
- cartesian / broadcast-nested-loop joins (should be ~0 outside 1-row
  stat assemblies),
- Python evaluation nodes (ArrowEvalPython / BatchEvalPython / MapIn* /
  FlatMap* — the deliberate Arrow seams; row-at-a-time BatchEvalPython
  in a hot path is a bug),
- whether at least one scan carries PushedFilters.

Queries whose BUILD phase executes jobs (ANN training, dup-cluster
closure, streaming materialization) still plan fine — their one-time
cost is the bench's `*_train` split, not a planning concern.

The committed file doubles as a REGRESSION BASELINE:
tests/test_plan_regression.py re-censuses every query and fails when an
existing query's shuffle or nested-loop-join count GROWS — a deliberate
plan pessimization (e.g. dropping an F.broadcast) is caught by CI.
Regenerate after intentional plan changes.

Usage: python tools/plan_audit.py  (writes PLAN_AUDIT.md at repo root)
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

AUDIT_PATH = os.path.join(ROOT, "PLAN_AUDIT.md")
COLUMNS = (
    "query",
    "shuffles",
    "bcast_joins",
    "shuffle_joins",
    "nl_joins",
    "py_nodes",
    "unpart_windows",
    "pushdown",
)


def _top_level_groups(s: str) -> list[str]:
    """Split `[a], [b], [c]...` into its top-level bracket groups."""
    groups, depth, cur = [], 0, []
    for ch in s:
        if ch == "[":
            depth += 1
            if depth == 1:
                cur = []
                continue
        elif ch == "]":
            depth -= 1
            if depth == 0:
                groups.append("".join(cur))
                continue
        if depth >= 1:
            cur.append(ch)
    return groups


def unpartitioned_windows(plan: str) -> int:
    """Count Window / WindowInPandas nodes with NO partition spec — a
    global sort through one task at scale. The node renders as
    `Window [exprs], [part], [order]` (3 groups = partitioned),
    `Window [exprs], [part]` or `Window [exprs], [order]` (2 groups:
    partitioned iff the trailing group has no ASC/DESC sort markers),
    or `Window [exprs]` (1 group = unpartitioned, unordered)."""
    n = 0
    for ln in plan.splitlines():
        m = re.search(r"\b(?:Window|WindowInPandas) (\[.*)$", ln)
        if not m:
            continue
        groups = _top_level_groups(m.group(1))
        if len(groups) >= 3:
            continue
        if len(groups) == 1 or re.search(r" (ASC|DESC)\b", groups[-1]):
            n += 1
    return n


def census_one(plan: str) -> tuple:
    """Structural counts from one executedPlan string."""
    n_ex = len(re.findall(r"\bExchange\b", plan))
    n_bhj = len(re.findall(r"\bBroadcastHashJoin\b", plan))
    n_smj = len(re.findall(r"\bSortMergeJoin\b", plan))
    n_shj = len(re.findall(r"\bShuffledHashJoin\b", plan))
    n_nl = len(re.findall(r"BroadcastNestedLoopJoin|CartesianProduct", plan))
    n_py = len(
        re.findall(
            r"ArrowEvalPython|BatchEvalPython|FlatMapGroupsInPandas"
            r"|MapInPandas|MapInArrow|FlatMapCoGroupsInPandas",
            plan,
        )
    )
    n_upw = unpartitioned_windows(plan)
    pushed = "yes" if re.search(r"PushedFilters: \[[^\]]", plan) else ""
    return (n_ex, n_bhj, n_smj + n_shj, n_nl, n_py, n_upw, pushed)


def find_regressions(
    committed: dict[str, dict],
    fresh: dict[str, tuple],
    unpart_whitelist: frozenset[str] | set[str] = frozenset(),
) -> tuple[list[str], list[tuple]]:
    """Compare a fresh census against the committed baseline.

    Returns (regressions, errors). A regression is an EXISTING query
    whose shuffle or NL/cartesian-join count grew, or ANY query (new
    ones included — baseline 0) whose unpartitioned-window count grew
    and is not in the bounded-domain whitelist. Shared by
    tests/test_plan_regression.py and its meta-test so the gate logic
    itself is exercised, not re-stated."""
    regressions: list[str] = []
    errors: list[tuple] = []
    for name, row in sorted(fresh.items()):
        if row[1] == "ERROR":
            errors.append((name, row[2]))
            continue
        _, shuffles, _bc, _sj, nl, _py, unpart, _pd = row
        base = committed.get(name)
        if base is not None and isinstance(base.get("shuffles"), int):
            if shuffles > base["shuffles"]:
                regressions.append(
                    f"{name}: shuffles {base['shuffles']} -> {shuffles}"
                )
            if isinstance(base.get("nl_joins"), int) and nl > base["nl_joins"]:
                regressions.append(
                    f"{name}: NL/cartesian joins {base['nl_joins']} -> {nl}"
                )
        base_upw = base.get("unpart_windows") if base else None
        if not isinstance(base_upw, int):
            base_upw = 0
        if unpart > base_upw and name not in unpart_whitelist:
            regressions.append(
                f"{name}: unpartitioned windows {base_upw} -> {unpart} "
                "(a global single-task sort at scale; partition it or add "
                "it to the bounded-domain whitelist with a justification)"
            )
    return regressions, errors


def census(spark, sf: str, names=None) -> list[tuple]:
    """(name, shuffles, bcast, shuffle_joins, nl, py, pushdown) per
    registry query — planning only (executedPlan is never run)."""
    from floatchat_datapipeline_spark.queries import registry

    rows = []
    for name, spec in sorted(registry().items()):
        if names is not None and name not in names:
            continue
        try:
            plan = (
                spec.spark(spark, sf)
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
        except Exception as e:  # noqa: BLE001 — census, not a gate
            rows.append((name, "ERROR", str(e)[:80], "", "", "", "", ""))
            continue
        rows.append((name, *census_one(plan)))
    return rows


def parse_committed(path: str = AUDIT_PATH) -> dict[str, dict]:
    """The committed census table → {query: {column: value}}."""
    out: dict[str, dict] = {}
    try:
        with open(path) as f:
            lines = f.read().splitlines()
    except OSError:
        return out
    for ln in lines:
        if not ln.startswith("| ") or ln.startswith("| query"):
            continue
        cells = [c.strip() for c in ln.strip("|").split("|")]
        if len(cells) != len(COLUMNS) or cells[0] == "---":
            continue
        name = cells[0]
        if name in ("query", ""):
            continue
        row: dict = {"query": name}
        for col, val in zip(COLUMNS[1:], cells[1:]):
            row[col] = int(val) if val.isdigit() else val
        out[name] = row
    return out


def main() -> None:
    from floatchat_datapipeline_spark.session import get_spark

    spark = get_spark(extra_conf={"spark.ui.showConsoleProgress": "false"})
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    rows = census(spark, sf)
    out = [
        "# PLAN_AUDIT — physical-plan hygiene census (generated by "
        "tools/plan_audit.py)",
        "",
        f"Planned against `{sf}`. Columns: shuffles (Exchange nodes), "
        "broadcast joins, shuffle joins (SMJ+SHJ), nested-loop/cartesian "
        "joins, Python eval nodes (Arrow seams), unpartitioned Window "
        "nodes (global single-task sorts — only allowed on bounded "
        "domains, whitelisted in tests/test_plan_regression.py), filter "
        "pushdown seen. Regression baseline: tests/test_plan_regression.py "
        "fails when an existing query's shuffle, NL-join, or "
        "unpartitioned-window count grows vs this file.",
        "",
        "| query | shuffles | bcast joins | shuffle joins | NL/cartesian |"
        " py nodes | unpart windows | pushdown |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for r in rows:
        out.append("| " + " | ".join(str(x) for x in r) + " |")
    n_nl_total = sum(r[4] for r in rows if isinstance(r[4], int))
    n_upw_total = sum(r[6] for r in rows if isinstance(r[6], int))
    n_err = sum(1 for r in rows if r[1] == "ERROR")
    out.append("")
    out.append(
        f"Totals: {len(rows)} queries, {n_err} plan errors, "
        f"{n_nl_total} nested-loop/cartesian joins across the whole "
        "suite (each audited: 1-row stat assemblies, bounded theta joins "
        f"at dim size, or broadcast range probes), {n_upw_total} "
        "unpartitioned Window nodes (each on a domain bounded by "
        "days/degrees/sources/top-k — see the whitelist in "
        "tests/test_plan_regression.py)."
    )
    with open(AUDIT_PATH, "w") as f:
        f.write("\n".join(out) + "\n")
    print(f"wrote PLAN_AUDIT.md: {len(rows)} queries, {n_err} errors")


if __name__ == "__main__":
    main()
