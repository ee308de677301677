"""Python workers of a ``get_spark`` session run the package's daemon
(``pyworker.py``), which drops the cached zipimporters before each task so
PySpark's per-task ``importlib.invalidate_caches()`` has no archive to
re-read."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
from pathlib import Path

import pandas as pd
from pyspark.sql import functions as F

ROOT = Path(__file__).resolve().parents[1]


def test_warm_task_holds_no_zip_importers(spark):
    @F.pandas_udf("long")
    def zip_importers(x: pd.Series) -> pd.Series:
        import sys
        import zipimport

        cache = sys.path_importer_cache.values()
        return pd.Series([sum(isinstance(f, zipimport.zipimporter) for f in cache)] * len(x))

    df = spark.range(0, 1, 1, 1).select(zip_importers("id").alias("n"))
    df.collect()  # the first run may start a worker, which imports as it goes
    assert df.collect()[0]["n"] == 0
    daemon = spark.sparkContext.getConf().get("spark.python.daemon.module")
    assert daemon == "floatchat_datapipeline_spark.pyworker"


_OUTSIDE_REPO_PROBE = textwrap.dedent(
    """
    import sys
    sys.path.insert(0, sys.argv[1])
    from pyspark.sql import functions as F
    from floatchat_datapipeline_spark.embeddings.encoder import encode_text
    from floatchat_datapipeline_spark.session import get_spark

    spark = get_spark(app_name="outside-repo-probe", shuffle_partitions=2,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    texts = spark.range(0, 8, 1, 2).select(encode_text(F.col("id").cast("string")).alias("v"))
    print("ENCODED:" + str(texts.where(F.size("v") > 0).count()))
    print("RDD:" + str(spark.sparkContext.parallelize(range(10), 2).map(lambda x: x + 1).sum()))
    spark.stop()
    """
)


def test_workers_import_the_package_from_any_cwd(tmp_path):
    """A session started outside the repository, with no PYTHONPATH: the
    workers still find the package (its UDFs and its daemon), so both a
    pandas UDF job and a plain Python RDD job run."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update({"SPARK_GRAFT_CPUS": "2", "SPARK_GRAFT_DRIVER_MEM": "1g"})
    proc = subprocess.run(
        [sys.executable, "-c", _OUTSIDE_REPO_PROBE, str(ROOT)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith(("ENCODED:", "RDD:"))]
    assert lines == ["ENCODED:8", "RDD:55"], proc.stderr[-3000:]
