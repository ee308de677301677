"""NetCDF-style profile-file source (reference S2/S4 + P1/P2 + R1).

The reference reads ARGO NetCDF with xarray one file at a time
(load_data.py:201-224), resolves variables through an alias table with
case-variant fallback (:226-264), masks `_FillValue`/`missing_value` to
missing (:318-331), decodes CF "days since" times (:333-375), and expands
the 2-D (profile, level) matrices to long rows (preprocess.py:113-175).

Spark-first design: ``spark.read.format("binaryFile")`` lists and ships
whole files — one row per file, partitioned across executors — and
``mapInArrow`` decodes each input batch of files into one Arrow record
batch of long measurement rows (the one true table-function in this
engine, SURVEY.md §2.13). The batch is built from the files' NumPy
columns, with no per-file pandas frame or Arrow conversion; CF times
decode once per units string in the batch, as UTC instants, so Spark
reads the same instants under any session time zone. Output batches
split at ``spark.sql.execution.arrow.maxRecordsPerBatch`` rows. All
downstream cleaning stays in JVM expressions.

Decode backends, tried in order on the file bytes:
1. NumPy ``.npz`` container (zip magic) — the deterministic test format;
   carries variables + a JSON ``__attrs__`` entry for units/fill values.
2. xarray/h5netcdf, if importable — real NetCDF; NOT installed in this
   container, so the path is import-gated.
3. Otherwise: NotImplementedError naming the file (a real deployment adds
   the netCDF4 native libs to the executor image).

At 100 TB: binaryFile gives one task per file (files are the natural unit
— a profile file is self-contained); tiny-file skew is handled by the
post-decode rebalance in callers, and listing cost by running ingest
incrementally (streaming landing source) rather than re-listing history.
"""

from __future__ import annotations

import io
import json
from typing import Callable, Iterable, Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# Alias fallback table (reference load_data.py:240-264): candidate source
# names per logical field; each candidate is also tried in upper/lower
# case variants.
FIELD_ALIASES: dict[str, tuple[str, ...]] = {
    "platform_number": ("PLATFORM_NUMBER", "platform_number", "FLOAT_ID"),
    "time": ("JULD", "TIME", "time"),
    "latitude": ("LATITUDE", "latitude", "LAT"),
    "longitude": ("LONGITUDE", "longitude", "LON"),
    "pressure": ("PRES", "pres", "PRESSURE"),
    "temperature": ("TEMP", "temp", "TEMPERATURE"),
    "salinity": ("PSAL", "psal", "SALINITY"),
}

ARGO_FILE_SCHEMA = StructType(
    [
        StructField("source_file", StringType()),
        StructField("float_id", StringType()),
        StructField("profile_index", IntegerType()),
        StructField("time", TimestampType()),
        StructField("latitude", DoubleType()),
        StructField("longitude", DoubleType()),
        StructField("level", IntegerType()),
        StructField("pressure", DoubleType()),
        StructField("temperature", DoubleType()),
        StructField("salinity", DoubleType()),
    ]
)

DEFAULT_TIME_UNITS = "days since 1950-01-01"

# The batches the decoder hands Spark. TimestampType maps to
# timestamp[us, tz=UTC]: CF times are UTC instants (reference
# preprocess.py:226), read as such whatever the session time zone.
ARGO_ARROW_SCHEMA = to_arrow_schema(ARGO_FILE_SCHEMA)


def _resolve(variables: dict[str, np.ndarray], field: str) -> np.ndarray | None:
    """Alias + case-variant lookup (reference load_data.py:252-264)."""
    for cand in FIELD_ALIASES[field]:
        for name in (cand, cand.upper(), cand.lower()):
            if name in variables:
                return variables[name]
    return None


def _mask_fill(arr: np.ndarray, attrs: dict, var: str) -> np.ndarray:
    """_FillValue/missing_value → NaN (reference load_data.py:318-331)."""
    out = arr.astype("float64", copy=True)
    for key in ("_FillValue", "missing_value"):
        fill = attrs.get(var, {}).get(key)
        if fill is not None:
            out[out == float(fill)] = np.nan
    return out


def decode_cf_time(values: np.ndarray, units: str) -> pd.Series:
    """CF "days/hours/seconds since <epoch>" → UTC timestamps (reference
    load_data.py:333-375). Invalid/missing → NaT. Rounded to µs, the
    precision Spark stores: a fractional day decodes with a ns residue
    (25581.1 days is 02:23:59.999999870) that Arrow refuses to cast."""
    unit_word, _, epoch = units.partition(" since ")
    step = {"days": "D", "hours": "h", "seconds": "s"}[unit_word.strip()]
    base = pd.Timestamp(epoch.strip())
    vals = pd.to_numeric(pd.Series(values.ravel()), errors="coerce")
    return (base + pd.to_timedelta(vals, unit=step)).dt.round("us")


def decode_npz_bytes(content: bytes) -> tuple[dict[str, np.ndarray], dict]:
    """Deterministic test container: an .npz holding the variables plus a
    JSON ``__attrs__`` entry ({var: {units/_FillValue/...}})."""
    with np.load(io.BytesIO(content), allow_pickle=False) as z:
        variables = {k: z[k] for k in z.files if k != "__attrs__"}
        attrs = json.loads(str(z["__attrs__"][0])) if "__attrs__" in z.files else {}
    return variables, attrs


def _try_xarray(content: bytes) -> tuple[dict[str, np.ndarray], dict] | None:
    try:
        import xarray as xr  # noqa: PLC0415
    except ImportError:
        return None
    ds = xr.open_dataset(io.BytesIO(content))
    variables = {k: np.asarray(v.values) for k, v in ds.variables.items()}
    attrs = {k: dict(v.attrs) for k, v in ds.variables.items()}
    return variables, attrs


def _decode_columns(path: str, content: bytes) -> tuple[dict[str, np.ndarray], str]:
    """One file's bytes → its long measurement columns (vectorized
    expansion of the reference's per-row loop, preprocess.py:113-175).
    ``time`` holds the raw CF offsets as float64, returned with their
    units; the batch builder decodes them once per units string."""
    if content[:2] == b"PK":  # zip magic — the .npz test container
        variables, attrs = decode_npz_bytes(content)
    else:
        decoded = _try_xarray(content)
        if decoded is None:
            raise NotImplementedError(
                f"{path}: real NetCDF decode needs xarray/h5netcdf on the "
                "executors; this container ships the .npz test format only"
            )
        variables, attrs = decoded

    pres = _resolve(variables, "pressure")
    if pres is None:
        raise ValueError(f"{path}: no pressure variable among {list(variables)}")
    n_prof, n_lev = np.atleast_2d(pres).shape
    prof_idx = np.repeat(np.arange(n_prof, dtype="int32"), n_lev)

    def per_profile(arr: np.ndarray | None) -> np.ndarray:
        if arr is None:
            return np.full(n_prof * n_lev, np.nan)
        return np.asarray(arr).ravel()[prof_idx].astype("float64")

    time_raw = _resolve(variables, "time")
    time_units = DEFAULT_TIME_UNITS  # all NaT without a time variable
    if time_raw is not None:
        time_units = next(
            (
                a.get("units")
                for v, a in attrs.items()
                if v in FIELD_ALIASES["time"] and "units" in a
            ),
            DEFAULT_TIME_UNITS,
        )
        if np.asarray(time_raw).dtype.kind not in "biuf":
            time_raw = pd.to_numeric(
                pd.Series(np.asarray(time_raw).ravel()), errors="coerce"
            ).to_numpy("float64")

    platform = _resolve(variables, "platform_number")
    float_ids = (
        np.array([str(x) for x in np.asarray(platform).ravel()])
        if platform is not None
        else np.array(["unknown"] * n_prof)
    )

    def meas(field: str) -> np.ndarray:
        arr = _resolve(variables, field)
        if arr is None:
            return np.full(n_prof * n_lev, np.nan)
        var_name = next(
            n
            for cand in FIELD_ALIASES[field]
            for n in (cand, cand.upper(), cand.lower())
            if n in variables
        )
        out = _mask_fill(np.atleast_2d(arr), attrs, var_name).ravel()
        if out.size != n_prof * n_lev:
            raise ValueError(
                f"{path}: {var_name} has {out.size} values, PRES {n_prof}x{n_lev}"
            )
        return out

    columns = {
        "float_id": float_ids[prof_idx],
        "profile_index": prof_idx,
        "time": per_profile(time_raw),
        "latitude": per_profile(_resolve(variables, "latitude")),
        "longitude": per_profile(_resolve(variables, "longitude")),
        "level": np.tile(np.arange(n_lev, dtype="int32"), n_prof),
        "pressure": meas("pressure"),
        "temperature": meas("temperature"),
        "salinity": meas("salinity"),
    }
    return columns, time_units


def _record_batch(
    decoded: list[tuple[str, dict[str, np.ndarray], str]],
) -> pa.RecordBatch:
    """Concatenate decoded files into one ARGO_ARROW_SCHEMA batch. CF
    times decode once per distinct units string; NaN doubles and NaT
    times become nulls."""
    rows = np.array([len(cols["level"]) for _, cols, _ in decoded], dtype="int64")

    def cat(name: str) -> np.ndarray:
        return np.concatenate([cols[name] for _, cols, _ in decoded])

    raw_time = cat("time")
    file_units = np.array([units for _, _, units in decoded])
    row_units = np.repeat(file_units, rows)
    time = np.full(raw_time.size, np.datetime64("NaT"), dtype="datetime64[us]")
    for units in np.unique(file_units):
        sel = row_units == units
        time[sel] = decode_cf_time(raw_time[sel], str(units)).to_numpy(
            "datetime64[us]"
        )
    paths = pa.array([path for path, _, _ in decoded], pa.string())
    built = {
        "source_file": pc.take(paths, np.repeat(np.arange(len(decoded)), rows)),
        "time": pa.array(time, ARGO_ARROW_SCHEMA.field("time").type),
    }
    return pa.RecordBatch.from_arrays(
        [
            built[f.name]
            if f.name in built
            else pa.array(cat(f.name), f.type, from_pandas=True)
            for f in ARGO_ARROW_SCHEMA
        ],
        schema=ARGO_ARROW_SCHEMA,
    )


def decode_profile_batches(
    files: Iterable[tuple[str, bytes]], max_rows: int = 0
) -> Iterator[pa.RecordBatch]:
    """(path, bytes) pairs → ARGO_ARROW_SCHEMA record batches: one for
    all the files, or a new one each time ``max_rows`` rows are reached
    (``max_rows <= 0``: no limit)."""
    pending, n = [], 0
    for path, content in files:
        columns, units = _decode_columns(path, content)
        pending.append((path, columns, units))
        n += len(columns["level"])
        if 0 < max_rows <= n:
            yield _record_batch(pending)
            pending, n = [], 0
    if pending:
        yield _record_batch(pending)


def decode_profile_file(path: str, content: bytes) -> pd.DataFrame:
    """One file's bytes → long measurement rows as pandas, with naive
    (UTC) ``datetime64[ns]`` times: the batch decoder over one file."""
    (batch,) = decode_profile_batches([(path, content)])
    pdf = batch.to_pandas(coerce_temporal_nanoseconds=True)
    pdf["time"] = pdf["time"].dt.tz_localize(None)
    return pdf


def _map_files(
    spark: SparkSession,
    path: str,
    glob: str,
    per_batch: Callable[[Iterable[tuple[str, bytes]]], Iterator[pa.RecordBatch]],
    schema: StructType,
) -> DataFrame:
    """binaryFile listing (one row per file, the glob is the extension
    gate, reference F11) → mapInArrow: ``per_batch`` gets each input
    batch's (path, bytes) pairs and yields record batches of ``schema``."""
    files = (
        spark.read.format("binaryFile").option("pathGlobFilter", glob).load(path)
    )

    def run(batches: Iterable[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            yield from per_batch(
                zip(
                    batch.column("path").to_pylist(),
                    batch.column("content").to_pylist(),
                )
            )

    return files.select("path", "content").mapInArrow(run, schema)


def read_argo(
    spark: SparkSession, path: str, glob: str = "*.nc"
) -> DataFrame:
    """Distributed profile-file reader: binaryFile listing → mapInArrow
    decode → long measurement DataFrame (ARGO_FILE_SCHEMA). Each input
    batch of files becomes one record batch, split at the session's
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` rows."""
    max_rows = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    return _map_files(
        spark,
        path,
        glob,
        lambda files: decode_profile_batches(files, max_rows),
        ARGO_FILE_SCHEMA,
    )


INSPECT_SCHEMA = StructType(
    [
        StructField("source_file", StringType()),
        StructField("variable", StringType()),
        StructField("dtype", StringType()),
        StructField("shape", StringType()),
        StructField("attrs_json", StringType()),
    ]
)


def _inspect_batch(files: Iterable[tuple[str, bytes]]) -> Iterator[pa.RecordBatch]:
    report: dict[str, list[str]] = {name: [] for name in INSPECT_SCHEMA.names}
    for path, content in files:
        variables, attrs = decode_npz_bytes(content)
        for name, values in variables.items():
            report["source_file"].append(path)
            report["variable"].append(name)
            report["dtype"].append(str(values.dtype))
            report["shape"].append(str(values.shape))
            report["attrs_json"].append(
                json.dumps(attrs.get(name, {}), sort_keys=True)
            )
    yield pa.RecordBatch.from_pydict(report, to_arrow_schema(INSPECT_SCHEMA))


def inspect_files(spark: SparkSession, path: str, glob: str = "*.nc") -> DataFrame:
    """S3 — per-file structure report (dims/vars/dtypes), the schema
    -discovery utility (reference load_data.py:158-199): one row per
    variable, one record batch per input batch."""
    return _map_files(spark, path, glob, _inspect_batch, INSPECT_SCHEMA)
