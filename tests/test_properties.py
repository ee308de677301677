"""Property-based tests (hypothesis) for the pure decode/encode kernels.

These run without Spark — they pin the per-row and per-batch functions
that executors apply inside mapInArrow/pandas_udf, where a silent
edge-case bug would corrupt data at scale without failing any
fixed-fixture test.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from floatchat_datapipeline_spark.embeddings.encoder import _StubModel
from floatchat_datapipeline_spark.sources.fixtures import npz_bytes
from floatchat_datapipeline_spark.sources.netcdf import (
    ARGO_ARROW_SCHEMA,
    decode_cf_time,
    decode_profile_batches,
    decode_profile_file,
)

TOKENS = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd")),
    min_size=1,
    max_size=8,
)
TEXTS = st.lists(TOKENS, min_size=1, max_size=30).map(" ".join)


@settings(max_examples=200, deadline=None)
@given(TEXTS)
def test_stub_encoder_unit_norm_and_determinism(text):
    m = _StubModel()
    v1, v2 = m.encode([text])[0], m.encode([text])[0]
    assert np.array_equal(v1, v2)
    assert abs(float(np.dot(v1, v1)) - 1.0) < 1e-9


@settings(max_examples=200, deadline=None)
@given(TEXTS, TEXTS)
def test_stub_encoder_cosine_bounded(a, b):
    m = _StubModel()
    va, vb = m.encode([a, b])
    cos = float(np.dot(va, vb))
    assert -1e-9 <= cos <= 1.0 + 1e-9
    # identical text ⇒ cosine exactly 1 within fp tolerance
    assert abs(float(np.dot(va, va)) - 1.0) < 1e-9


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.one_of(
            st.floats(min_value=0, max_value=40000, allow_nan=False),
            st.just(float("nan")),
        ),
        min_size=1,
        max_size=20,
    ),
    st.sampled_from(["days", "hours", "seconds"]),
)
def test_cf_time_decode_roundtrip(values, unit):
    """Finite offsets decode to base + offset exactly (µs precision);
    NaN decodes to NaT, never raises."""
    units = f"{unit} since 2000-01-01"
    out = decode_cf_time(np.array(values), units)
    base = pd.Timestamp("2000-01-01")
    mult = {"days": 86400, "hours": 3600, "seconds": 1}[unit]
    for v, ts in zip(values, out):
        if math.isnan(v):
            assert pd.isna(ts)
        else:
            expect_us = round(v * mult * 1_000_000)
            got_us = (ts - base).value // 1000
            assert abs(got_us - expect_us) <= 1


# ---------------------------------------------------------------------------
# Profile-file decoder: the batch decoder that read_argo hands Spark equals
# the per-file decode, concatenated, over random files — fill values,
# measurement dtypes, byte-string ids, NaN / fractional / missing times,
# missing lat/lon and mixed CF time units within one batch.
# ---------------------------------------------------------------------------

TIME_UNITS = st.sampled_from(
    [
        "days since 1950-01-01",
        "hours since 2000-01-01",
        "seconds since 1970-01-01 00:00:00",
    ]
)
CF_TIMES = st.one_of(
    st.floats(min_value=0, max_value=30000, allow_nan=False),
    st.just(float("nan")),
)


@st.composite
def profile_files(draw):
    """One .npz profile file plus what its decode must show: the null
    mask of each row-level column and the float id of each profile."""
    n_prof, n_lev = draw(st.integers(1, 3)), draw(st.integers(1, 4))
    rng = np.random.default_rng(draw(st.integers(0, 2**32 - 1)))
    variables, attrs, nulls = {}, {}, {}
    measurements = (("PRES", "pressure"), ("TEMP", "temperature"), ("PSAL", "salinity"))
    for var, field in measurements:
        if var != "PRES" and not draw(st.booleans()):
            nulls[field] = np.ones(n_prof * n_lev, bool)
            continue
        dtype = draw(st.sampled_from(["float32", "float64", "int16"]))
        fill = -32767 if dtype == "int16" else 99999.0
        values = rng.integers(-1000, 1000, (n_prof, n_lev)).astype(dtype)
        fill_key = draw(st.sampled_from([None, "_FillValue", "missing_value"]))
        filled = (rng.random(values.shape) < 0.3) & (fill_key is not None)
        values[filled] = fill
        missing = filled.copy()
        if dtype != "int16":
            nan = rng.random(values.shape) < 0.1
            values[nan] = np.nan
            missing |= nan
        variables[var] = values
        if fill_key:
            attrs[var] = {fill_key: fill}
        nulls[field] = missing.ravel()
    ids = [str(x) for x in rng.integers(1_900_000, 7_000_000, n_prof)]
    id_kind = draw(st.sampled_from(["str", "bytes", "absent"]))
    if id_kind == "str":
        variables["PLATFORM_NUMBER"] = np.array(ids)
    elif id_kind == "bytes":
        variables["PLATFORM_NUMBER"] = np.array(ids, dtype="S7")
        ids = [f"b'{i}'" for i in ids]
    else:
        ids = ["unknown"] * n_prof
    times = draw(
        st.one_of(st.none(), st.lists(CF_TIMES, min_size=n_prof, max_size=n_prof))
    )
    if times is None:
        time_null = np.ones(n_prof, bool)
    else:
        name = draw(st.sampled_from(["JULD", "TIME", "time"]))
        variables[name] = np.array(times)
        attrs[name] = {"units": draw(TIME_UNITS)}
        time_null = np.isnan(times)
    nulls["time"] = np.repeat(time_null, n_lev)
    for var, field in (("LATITUDE", "latitude"), ("LONGITUDE", "longitude")):
        present = draw(st.booleans())
        if present:
            variables[var] = rng.uniform(-80, 80, n_prof)
        nulls[field] = np.full(n_prof * n_lev, not present)
    return npz_bytes(variables, attrs), np.repeat(ids, n_lev), nulls


@settings(max_examples=150, deadline=None)
@given(st.lists(profile_files(), min_size=1, max_size=5), st.integers(0, 12))
def test_batch_decode_equals_per_file_decode(files, max_rows):
    named = [(f"f{i}.nc", content) for i, (content, _, _) in enumerate(files)]
    batches = list(decode_profile_batches(named, max_rows))
    got = pa.Table.from_batches(batches, ARGO_ARROW_SCHEMA).combine_chunks()

    per_file = []
    for name, content in named:
        pdf = decode_profile_file(name, content)
        pdf["time"] = pdf["time"].dt.tz_localize("UTC")
        per_file.append(pa.Table.from_pandas(pdf, ARGO_ARROW_SCHEMA, preserve_index=False))
    want = pa.concat_tables(per_file).combine_chunks()
    assert got.schema == ARGO_ARROW_SCHEMA
    assert got.schema.field("time").type == pa.timestamp("us", tz="UTC")
    assert got.equals(want)  # values, nulls and types

    # ... and both match the files as drawn
    assert got.column("float_id").to_pylist() == [
        i for _, ids, _ in files for i in ids
    ]
    for field in files[0][2]:
        want_null = np.concatenate([nulls[field] for _, _, nulls in files])
        got_null = got.column(field).is_null().to_numpy(zero_copy_only=False)
        assert got_null.tolist() == want_null.tolist(), field

    # bounded batches: every batch but the last reached max_rows
    if max_rows > 0:
        assert all(b.num_rows >= max_rows for b in batches[:-1])
    else:
        assert len(batches) == 1


# ---------------------------------------------------------------------------
# Winnowing guarantee (L15) — replayed in pure Python against the same
# md5-long hash the Spark expression computes, property-tested over random
# token streams: ANY shared window of k + w - 1 consecutive tokens must
# surface at least one shared selected fingerprint (Schleimer et al. 2003,
# Theorem 1 — the reason winnowing beats a global min for plagiarism-style
# matching).
# ---------------------------------------------------------------------------

_K, _W = 5, 4


def _winnow_py(tokens: list[str]) -> set[int]:
    import hashlib

    def h(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    grams = [
        " ".join(tokens[i : i + _K]) for i in range(len(tokens) - _K + 1)
    ]
    hs = [h(g) for g in grams]
    return {
        min(hs[i : i + _W]) for i in range(len(hs) - _W + 1)
    }


TOKENS = st.lists(
    st.sampled_from("alpha beta gamma delta eps zeta eta theta".split()),
    min_size=_K + _W - 1,
    max_size=40,
)


@given(TOKENS, TOKENS, st.integers(0, 30), st.integers(0, 30))
@settings(max_examples=60, deadline=None)
def test_winnow_shared_run_shares_fingerprint(doc_a, doc_b, cut_a, cut_b):
    shared = "one two three four five six seven eight".split()  # k+w-1 = 8
    a = doc_a[: cut_a % (len(doc_a) + 1)] + shared + doc_a[cut_a % (len(doc_a) + 1):]
    b = doc_b[: cut_b % (len(doc_b) + 1)] + shared + doc_b[cut_b % (len(doc_b) + 1):]
    assert _winnow_py(a) & _winnow_py(b), (a, b)


def test_winnow_spark_matches_python_replay(spark):
    """The Spark array-domain winnow equals the reference Python replay
    on concrete documents (hash, windowing, and dedup all identical)."""
    from floatchat_datapipeline_spark.functions import textstats as T

    docs = [
        "the quick brown fox jumps over the lazy dog again and again",
        "pack my box with five dozen liquor jugs for the long trip home",
        "one two three four five six seven eight",  # exactly k+w-1 tokens
        "too short",
    ]
    df = spark.createDataFrame([(i, d) for i, d in enumerate(docs)], "id long, text string")
    got = {
        r["id"]: set(r["fps"])
        for r in df.select("id", T.winnow("text", k=_K, w=_W).alias("fps")).collect()
    }
    for i, d in enumerate(docs):
        toks = d.split(" ")
        want = _winnow_py(toks) if len(toks) >= _K + _W - 1 else set()
        assert got[i] == want, (i, got[i], want)


# ---------------------------------------------------------------------------
# SCD2 invariants (K11): per key, intervals tile the event timeline —
# valid_from strictly increases, each valid_to equals the next valid_from,
# exactly one open interval, and consecutive intervals carry distinct
# values (else they'd have been compacted).
# ---------------------------------------------------------------------------


def test_scd2_intervals_tile_and_compact(spark):
    import datetime

    from floatchat_datapipeline_spark.operators.windows import scd2_compact

    base = datetime.datetime(2024, 1, 1)
    rows = []
    eid = 0
    vals = [1.0, 1.0, 2.0, None, None, 2.0, 3.0, 3.0, 3.0, 4.0]
    for u in (1, 2):
        for i, v in enumerate(vals):
            rows.append((eid, base + datetime.timedelta(minutes=i), u, "t", v))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    out = (
        scd2_compact(df)
        .orderBy("user_id", "valid_from")
        .collect()
    )
    per_user: dict[int, list] = {}
    for r in out:
        per_user.setdefault(r["user_id"], []).append(r)
    assert set(per_user) == {1, 2}
    for u, ivs in per_user.items():
        # compaction: 1,2,NULL,2,3,4 -> 6 intervals
        assert [r["value"] for r in ivs] == [1.0, 2.0, None, 2.0, 3.0, 4.0]
        assert [r["valid_to"] for r in ivs[:-1]] == [
            r["valid_from"] for r in ivs[1:]
        ]
        assert ivs[-1]["valid_to"] is None
