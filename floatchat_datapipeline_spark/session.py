"""SparkSession factory with scale-oriented defaults.

The reference pipeline is a single-process pandas loop (see SURVEY.md §4);
this engine replaces it with a Spark cluster plan. The defaults below are
the settings that matter at 100 TB:

- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  and dynamic join-strategy switching replace hand-tuning per dataset.
- ``spark.sql.shuffle.partitions`` sized for the test harness (32 local
  cores); on a real cluster AQE coalesces from a high initial number, so
  this is a floor, not a magic constant.
- Arrow enabled: every pandas_udf / mapInPandas boundary is Arrow-batched,
  and the profile-file decoder (``read_argo``) hands Spark Arrow record
  batches directly through mapInArrow (the reference's row-at-a-time
  iterrows() pattern is the anti-model).
- UTC session timezone: the reference coerces all timestamps to UTC
  (reference preprocess.py:226); we pin it at the session level so
  timestamp semantics are environment-independent.
- Local masters: Python workers run ``pyworker.py``'s daemon, which spares
  each task PySpark's re-read of pyspark.zip, with the package root on
  their PYTHONPATH.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKER_DAEMON = "floatchat_datapipeline_spark.pyworker"


def get_spark(
    app_name: str = "floatchat-datapipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Local test harness: ``local[$SPARK_GRAFT_CPUS]``. On a cluster the
    master comes from spark-submit and this factory only applies SQL conf.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # TIMESTAMP(NANOS) parquet columns (events.ts) have no Spark type;
        # read them as long and convert in the catalog (catalog.load_table).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # No-tz timestamp[us] parquet must read as TIMESTAMP (UTC session
        # tz), not TIMESTAMP_NTZ — watermarks/unix_micros need TIMESTAMP.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    )
    conf = dict(extra_conf or {})
    if master.startswith("local"):
        # Python workers start from this package's daemon (pyworker.py), so
        # they must find the package wherever the session was started.
        # Local only: a cluster's executors have no copy at PACKAGE_ROOT.
        conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
            p for p in (PACKAGE_ROOT, conf.get("spark.executorEnv.PYTHONPATH")) if p
        )
        conf.setdefault("spark.python.daemon.module", WORKER_DAEMON)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
