"""CPU per perfbench op, split by process.

Runs one perfbench workload the way ``perfbench/run.py`` does (session,
worker warm-up, generate, setup, prime), then N untraced ops, and prints
the CPU each op cost in each part of the process tree:

- ``jvm``: the Spark JVM, less its JIT compiler threads;
- ``jit``: the JIT compiler threads (perfbench leaves them out);
- ``driver``: the driver's Python process;
- ``workers``: everything else in the tree, i.e. the Python worker
  daemon and its forked workers. ``pyspark.daemon`` ignores SIGCHLD, so
  a worker that exits takes its CPU out of the count (a negative value).

``op_ms`` = jvm + driver + workers, which is what perfbench's
``op_cpu_ms`` takes the median of.

Usage (from the repository root):

    python3 tools/cpu_split.py --workload ingest_bulk --seed 1 --ops 6

One line per op (search_serve ops carry their query kind), then one JSON
line with the medians. Writes only under
``.bench_work/cpu_split/`` and deletes it at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.measure import Tracer, jit_cpu_s, steal_ticks, tree_cpu_s  # noqa: E402
from perfbench.run import _environment, _stop_tree, _warm  # noqa: E402


def _own_cpu_s(pid: int) -> float:
    """utime + stime of `pid` alone, without its reaped children."""
    with open(f"/proc/{pid}/stat") as f:
        data = f.read()
    fields = data[data.rfind(")") + 2:].split()
    return sum(int(x) for x in fields[11:13]) / os.sysconf("SC_CLK_TCK")


def split(me: int, jvm: int) -> dict[str, float]:
    """CPU seconds so far of each part of the tree rooted at `me`."""
    total, driver, jit = tree_cpu_s(me), _own_cpu_s(me), jit_cpu_s(jvm)
    jvm_s = _own_cpu_s(jvm) - jit
    return {"jvm": jvm_s, "jit": jit, "driver": driver, "workers": total - jvm_s - jit - driver}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--ops", type=int, default=6)
    args = p.parse_args(argv)

    work = os.path.join(ROOT, ".bench_work", "cpu_split")
    shutil.rmtree(work, ignore_errors=True)
    conf = _environment(work)
    from floatchat_datapipeline_spark.session import get_spark
    from perfbench.workloads import WORKLOADS

    spark = get_spark(extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    me, jvm = os.getpid(), spark.sparkContext._gateway.proc.pid
    try:
        _warm(spark)
        wl = WORKLOADS[args.workload](spark, os.path.join(work, "data"), args.seed, Tracer())
        wl.generate()
        wl.setup()
        wl.prime()
        steal0, wall0, per_op = steal_ticks(), time.time(), []
        for i in range(args.ops):
            before = split(me, jvm)
            rec = wl.op(i)
            wl.check_op(rec)
            after = split(me, jvm)
            row = {k: round((after[k] - before[k]) * 1e3) for k in after}
            row["op_ms"] = row["jvm"] + row["driver"] + row["workers"]
            per_op.append(row)
            print(json.dumps({"op": i, "kind": rec.get("kind", args.workload), **row}), flush=True)
        steal = ((steal_ticks() - steal0) / os.sysconf("SC_CLK_TCK")
                 / (time.time() - wall0) / os.cpu_count())
    finally:
        _stop_tree(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "ops": len(per_op),
        "failed_checks": len(wl.failures),
        "host_steal_share": round(steal, 4),
        "median_ms": {k: statistics.median(r[k] for r in per_op) for k in per_op[0]},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
