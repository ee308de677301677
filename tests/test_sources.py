"""NetCDF-style reader tests — decode, alias fallback, fill masking,
CF time units, glob gate, inspect report."""

from __future__ import annotations

import math
import shutil
import tempfile

import numpy as np
import pytest

from floatchat_datapipeline_spark.sources.fixtures import (
    EXPECTED_ROWS,
    FIXTURE_FILES,
    npz_bytes,
    write_fixture_dir,
)
from floatchat_datapipeline_spark.sources.netcdf import (
    decode_profile_file,
    inspect_files,
    read_argo,
)


@pytest.fixture(scope="module")
def fixture_dir():
    d = tempfile.mkdtemp(prefix="ncfix-")
    write_fixture_dir(d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _canon(rows):
    out = set()
    for r in rows:
        vals = []
        for v in r:
            if v is None or (isinstance(v, float) and math.isnan(v)):
                vals.append(None)
            elif hasattr(v, "strftime"):
                vals.append(v.strftime("%Y-%m-%d %H:%M:%S"))
            elif isinstance(v, float):
                vals.append(round(v, 6))
            else:
                vals.append(v)
        out.add(tuple(vals))
    return out


def test_decode_single_file_pandas_only():
    name = "nodc_D1900975_001.nc"
    variables, attrs = FIXTURE_FILES[name]
    pdf = decode_profile_file(name, npz_bytes(variables, attrs))
    assert len(pdf) == 6
    # fill-value masked
    assert pdf["pressure"].isna().sum() == 1
    assert str(pdf["time"].iloc[0]) == "2020-01-15 00:00:00"


def test_read_argo_end_to_end(fixture_dir, spark):
    df = read_argo(spark, fixture_dir)
    rows = df.select(
        "float_id",
        "profile_index",
        "time",
        "latitude",
        "longitude",
        "level",
        "pressure",
        "temperature",
        "salinity",
    ).collect()
    assert _canon(rows) == _canon(EXPECTED_ROWS)
    # lineage column present and file-scoped
    files = {r[0] for r in df.select("source_file").distinct().collect()}
    assert len(files) == 2  # .txt file gated out by the glob


def test_read_argo_fractional_day_time(spark, tmp_path):
    """A JULD with a fractional day decodes to a timestamp with a sub-µs
    residue (25581.1 days is 02:23:59.999999870 in float arithmetic);
    Spark stores µs, so the decoder rounds instead of failing the job."""
    import datetime

    variables = {
        "PLATFORM_NUMBER": np.array(["1900975"]),
        "JULD": np.array([25581.1]),
        "LATITUDE": np.array([-5.2]),
        "LONGITUDE": np.array([72.5]),
        "PRES": np.array([[5.0, 100.0]]),
    }
    attrs = {"JULD": {"units": "days since 1950-01-01"}}
    (tmp_path / "frac_001.nc").write_bytes(npz_bytes(variables, attrs))
    rows = read_argo(spark, str(tmp_path)).select("time").collect()
    assert [r["time"] for r in rows] == [datetime.datetime(2020, 1, 15, 2, 24)] * 2


def test_inspect_report(fixture_dir, spark):
    rep = inspect_files(spark, fixture_dir)
    rows = rep.collect()
    by_var = {(r["source_file"].rsplit("/", 1)[-1], r["variable"]): r for r in rows}
    r = by_var[("nodc_D1900975_001.nc", "PRES")]
    assert r["shape"] == "(2, 3)"
    assert "_FillValue" in r["attrs_json"]


def test_unknown_format_raises():
    with pytest.raises(NotImplementedError):
        decode_profile_file("real.nc", b"CDF\x01notreallynetcdf")


def test_load_table_events_under_conf_stripped_session(spark, sf_dir):
    """Driver-parity guard: the correctness gate runs queries() under a
    vanilla SparkSession without our session factory, so load_table /
    stream_table must set spark.sql.legacy.parquet.nanosAsLong themselves
    (events.parquet is TIMESTAMP(NANOS)). Mimic by stripping the conf from
    a fresh session and reading events through the catalog."""
    from pyspark.sql.types import TimestampType

    from floatchat_datapipeline_spark.catalog import load_table
    from floatchat_datapipeline_spark.streaming.sources import stream_table

    s2 = spark.newSession()
    s2.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    df = load_table(s2, sf_dir, "events")
    assert isinstance(df.schema["ts"].dataType, TimestampType)
    assert df.count() > 0

    s2.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    sdf = stream_table(s2, sf_dir, "events")
    assert sdf.isStreaming
    assert isinstance(sdf.schema["ts"].dataType, TimestampType)
