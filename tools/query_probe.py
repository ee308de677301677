"""Per-query A/B probe: bench-protocol timing for a named subset.

Reproduces bench.py's measurement protocol (fresh session, reader +
pandas-UDF warm-up, min-of-2 noop-write executions per query) for an
explicit list of queries, so a regression can be bisected without a
full 290-row bench run. Standalone-subset numbers land close to the
committed bench because the protocol matches; they still exclude the
session AGE at the query's alphabetical bench position, which is
exactly the variable this tool isolates.

Usage: python tools/query_probe.py q1,q2[,...] [reps]
A query in bench.MEMOIZED is timed cold (memo store emptied before each
run), i.e. its bench *_train row.
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1).
Prints one JSON line {"queries": {name: min_sec}, "runs": reps}.
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def _cpu_probe() -> float:
    """bench.py's fixed-work steal gauge: > ~0.5 s means the hypervisor
    is stealing cycles and every timing in this run is inflated —
    discard the run rather than tune against it (round-13 lesson:
    numbers drifted 2.5× inside one session)."""
    t0 = time.time()
    s = 0
    for i in range(10_000_000):
        s += i
    return round(time.time() - t0, 3)


def main() -> None:
    names = [n for n in sys.argv[1].split(",") if n]
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    probe0 = _cpu_probe()

    from floatchat_datapipeline_spark.session import get_spark

    spark = get_spark(
        app_name="floatchat-query-probe",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    unknown = [n for n in names if n not in qs]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        sys.exit(2)

    # Same warm-up as bench.py: parquet reader + Python UDF workers.
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    _warm = F.pandas_udf(lambda x: x, LongType())
    spark.range(1000).repartition(64).select(_warm("id")).write.format(
        "noop"
    ).mode("overwrite").save()

    from bench import MEMOIZED
    from floatchat_datapipeline_spark import memo

    def run_once(name: str) -> float:
        # bench.py's *_train row: a memoized query's repeat runs would
        # otherwise time the warm memo hit, not the build
        if name in MEMOIZED:
            memo.reset()
        t0 = time.time()
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.time() - t0

    timings: dict[str, float] = {}
    for name in names:
        timings[name] = round(min(run_once(name) for _ in range(reps)), 3)
    print(
        json.dumps(
            {
                "queries": timings,
                "runs": reps,
                "sf_dir": sf_dir,
                "cpu_probe_start": probe0,
                "cpu_probe_end": _cpu_probe(),
                "load_1m": round(os.getloadavg()[0], 2),
            }
        )
    )


if __name__ == "__main__":
    main()
