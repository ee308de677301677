"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload search_serve --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of standard output is the
result: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end metrics of BENCHMARK.json; with --trace 1 they
are the per-layer metrics, from a run whose first third is untraced (for
the tracing overhead) and the rest traced. A context line (host load, CPU
probe, sample counts) is printed just before the result.

Everything the run writes goes under .bench_work/ in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPEATS = 3
WATCHDOG_S = 170  # a run must end within 180 s
WALL0 = time.perf_counter()
OVERRUN = 0.5  # an op may start only if half its expected time fits before the end


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _environment(work: str) -> dict[str, str]:
    """Confine the run to `work`, give Python workers the repository, and
    size Spark to this machine's cores. Must run before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ.update({
        "SPARK_GRAFT_CPUS": cpus,  # shuffle partitions default to 32 otherwise
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
    })
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # compiler threads that come and go would take their CPU time out
        # of sight of jit_cpu_s
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} "
                                         "-XX:-UseDynamicNumberOfCompilerThreads",
    }


def _stop_tree(spark) -> None:
    """Stop Spark, then the gateway JVM and the Python workers it started,
    and wait for each to end."""
    from pyspark import SparkContext

    from perfbench.measure import descendants

    kids = descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=20)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 15
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in kids):
        time.sleep(0.1)
    for p in kids:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


def _watchdog() -> None:
    from perfbench.measure import descendants

    def fire():
        print(f"perfbench: run exceeded {WATCHDOG_S} s, killing it", file=sys.stderr)
        for p in descendants(os.getpid()):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
        os._exit(3)

    t = threading.Timer(WATCHDOG_S, fire)
    t.daemon = True
    t.start()


def main(argv=None) -> int:
    args = _parse(argv)
    sys.path.insert(0, ROOT)
    # the program must come from this checkout; it is imported only after
    # _environment, because it reads the core count at import time
    if not os.path.isfile(os.path.join(ROOT, "floatchat_datapipeline_spark", "__init__.py")):
        print(f"perfbench: the program package is missing from {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        print(f"perfbench: unknown workload {args.workload!r}; one of {names}", file=sys.stderr)
        return 2
    end_to_end, per_layer = (
        {m["name"]: m["unit"] for m in spec[section]} for section in ("end_to_end", "per_layer")
    )
    _watchdog()
    work = os.path.join(ROOT, ".bench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    conf = _environment(work)
    from perfbench.workloads import WORKLOADS

    if args.trace:
        events = os.path.join(work, "events")
        os.makedirs(events)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": events,
                     "spark.eventLog.rolling.enabled": "false", "spark.eventLog.compress": "false"})

    from perfbench.measure import (Tracer, cpu_probe_s, jit_cpu_s, jvm_live_mb, median,
                                   percentile, steal_ticks, tree_cpu_s, tree_peak_rss_mb,
                                   tree_pss_mb)

    me = os.getpid()
    context = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
               "cpus": os.environ["SPARK_GRAFT_CPUS"], "load_avg_1m_start": os.getloadavg()[0],
               "cpu_probe_s_start": cpu_probe_s()}
    steal0, wall0 = steal_ticks(), time.time()

    t0, cpu = time.perf_counter(), tree_cpu_s(me)
    from floatchat_datapipeline_spark.session import get_spark

    spark = get_spark(extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    jvm = spark.sparkContext._gateway.proc.pid

    def work_cpu() -> float:
        """CPU seconds of the process tree so far, less the JVM's JIT
        compiles: a warm-up cost that fades over a run's first minute and
        would make the median op depend on where the run stopped."""
        return tree_cpu_s(me) - jit_cpu_s(jvm)

    start_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    _warm(spark)
    warm_s = time.perf_counter() - t0
    session_cpu_s = work_cpu() - cpu

    tracer = Tracer()
    wl = WORKLOADS[args.workload](spark, os.path.join(work, "data"), args.seed, tracer)
    t0 = time.perf_counter()
    wl.generate()
    generate_s = time.perf_counter() - t0
    setups, setups_cpu = [], []
    for _ in range(SETUP_REPEATS):
        t0, cpu = time.perf_counter(), work_cpu()
        wl.setup()
        setups.append(time.perf_counter() - t0)
        setups_cpu.append(work_cpu() - cpu)
    t0 = time.perf_counter()
    wl.prime()
    prime_s = time.perf_counter() - t0

    # Closed loop, one client. In a traced run the first third is untraced,
    # for the tracing overhead; the rest is traced.
    ops, traced_ops, op_failures = [], [], 0
    begin = time.perf_counter()
    trace_from = begin + args.seconds / 3 if args.trace else float("inf")
    window = [0.0, 0.0]
    i, last = 0, 0.0
    # Stop early rather than overrun the run by more than OVERRUN, but only
    # after a whole number of the workload's op cycles.
    while (time.perf_counter() - begin + last * (1 - OVERRUN) < args.seconds
           or i % wl.OP_CYCLE):
        if not tracer.enabled and time.perf_counter() >= trace_from:
            tracer.enabled = True
            window[0] = time.time() * 1e3
        t_op, cpu = time.perf_counter(), work_cpu()
        try:
            rec = wl.op(i)
            rec["cpu_s"] = work_cpu() - cpu
            (traced_ops if tracer.enabled else ops).append(rec)
            wl.check_op(rec)
        except Exception:
            traceback.print_exc()
            op_failures += 1
        i += 1
        last = time.perf_counter() - t_op
    measured_s = time.perf_counter() - begin
    window[1] = time.time() * 1e3
    tracer.enabled = False
    rss = tree_peak_rss_mb(me)
    mem_mb = jvm_live_mb(spark) + tree_pss_mb(me, skip=jvm)
    jit_s = jit_cpu_s(jvm)
    stage = wl.traced_stage() if args.trace else {}
    t0 = time.perf_counter()
    try:
        wl.finish()
    except Exception:
        traceback.print_exc()
        wl.check(False, "final output check raised")
    finish_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    _stop_tree(spark)
    stop_s = time.perf_counter() - t0

    done = ops + traced_ops
    lat_ms = [o["latency_s"] * 1e3 for o in ops]
    if args.trace:
        from perfbench.measure import event_log_stats

        ev = event_log_stats(os.path.join(work, "events"), *window)
        n = len(traced_ops)
        metrics = dict.fromkeys(per_layer, 0.0)
        metrics.update({
            "session.start_s": start_s,
            "session.warm_s": warm_s,
            "setup.prime_s": prime_s,
            "setup.median_s": median(setups),
            "ops": float(n),
            "encoder.texts": ev["udf_rows"] / n if n else 0.0,
            "shuffle.bytes": ev["shuffle_bytes"] / n if n else 0.0,
            "spill.bytes": ev["spill_bytes"] / n if n else 0.0,
            "task.skew": ev["task_skew"],
            "rss.peak_mb": sum(rss.values()),
        })
        if ops:  # wall-clock figures, from the untraced part of the loop
            metrics["op_p50_ms"] = percentile(lat_ms, 50)
            metrics["items_per_s"] = sum(o["items"] for o in ops) / sum(
                o["latency_s"] + sum(o.get("reads_s", ())) for o in ops)
            if traced_ops:
                metrics["trace.overhead_ms"] = median(
                    [o["latency_s"] * 1e3 for o in traced_ops]) - median(lat_ms)
        if traced_ops:
            metrics.update(wl.layer_metrics(traced_ops, ev["udf_rows"]))
        metrics.update(stage)
        unknown = set(metrics) - set(per_layer)
        if unknown:
            raise KeyError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
        units = per_layer
    else:
        metrics = {
            "setup_s": session_cpu_s + median(setups_cpu),
            "op_cpu_ms": median([o["cpu_s"] * 1e3 for o in ops]),
            "mem_mb": mem_mb,
        }
        units = end_to_end
    context.update({
        "ops": len(done), "op_failures": op_failures, "checks": wl.checks,
        "check_failures": wl.failures[:20], "measured_s": measured_s,
        "op_p50_ms": percentile(lat_ms, 50),
        "op_cpu_ms_each": [round(o["cpu_s"] * 1e3) for o in ops], "jit_cpu_s": jit_s,
        "setup_wall_s": start_s + warm_s + median(setups),
        "setup_repeats_s": setups, "setup_repeats_cpu_s": setups_cpu, "prime_s": prime_s,
        "generate_s": generate_s, "finish_s": finish_s, "stop_s": stop_s,
        "peak_rss_mb_by_process": sorted(rss.values(), reverse=True),
        "host_steal_share": (steal_ticks() - steal0) / os.sysconf("SC_CLK_TCK")
        / (time.time() - wall0) / os.cpu_count(),
        "wall_s": time.perf_counter() - WALL0, "load_avg_1m_end": os.getloadavg()[0],
        "cpu_probe_s_end": cpu_probe_s(),
    })
    print(json.dumps({"context": context}))
    attempted = len(done) + op_failures + wl.checks
    failed = op_failures + len(wl.failures)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }
    print(json.dumps(result), flush=True)
    shutil.rmtree(work, ignore_errors=True)
    return 0


def _warm(spark) -> None:
    """Start the Python workers and load the encoder in each."""
    from pyspark.sql import functions as F

    from floatchat_datapipeline_spark.embeddings.encoder import encode_text

    n = spark.sparkContext.defaultParallelism
    spark.range(0, 64 * n, 1, n).select(
        encode_text(F.col("id").cast("string")).alias("v")).agg(F.count("v")).collect()


if __name__ == "__main__":
    sys.exit(main())
