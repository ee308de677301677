"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed (and, for the landing
batches, of the batch index): the same seed yields byte-identical files.
Each also returns what the program's outputs must look like, computed here
in plain Python/NumPy from the documented cleaning rules, so the run can
check the program without trusting it.

Dirty values are planted at the rates in ``DIRTY``; ``_kept`` is the
benchmark's own statement of the cleaning rules those rates exercise.
"""

from __future__ import annotations

import io
import json
import os
import zipfile
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from floatchat_datapipeline_spark.corpus import CORPUS
from floatchat_datapipeline_spark.sources.fixtures import npz_bytes

# JULD is quantized to 2**-10 day (84.375 s, a whole number of
# microseconds). An unquantized fractional day makes read_argo fail with
# "Casting from timestamp[ns, tz=UTC] to timestamp[us, tz=UTC] would lose
# data" (raised from decode_cf_time) -- a known defect, left to the program.
JULD_QUANTUM = 2.0 ** -10
FILL = 99999.0

# Planting rates: per profile unless noted.
DIRTY = {
    "lat_out": 0.02,  # latitude 95 -> row dropped
    "lon_out": 0.02,  # longitude 190 -> row dropped
    "pre_1999": 0.02,  # time before 1999 -> row dropped
    "nan_id": 0.02,  # float id 'nan' -> row dropped
    "bytes_id_file": 0.10,  # per file: ids stored as byte strings -> b'...' stripped
    "fill_value": 0.03,  # per measurement value: _FillValue -> null
}


def _restamp(data: bytes) -> bytes:
    """Rewrite a zip with fixed entry timestamps, so the container is a
    function of its content only (np.savez stamps the wall clock)."""
    out = io.BytesIO()
    with zipfile.ZipFile(io.BytesIO(data)) as src, zipfile.ZipFile(out, "w") as dst:
        for info in src.infolist():
            dst.writestr(zipfile.ZipInfo(info.filename, (1980, 1, 1, 0, 0, 0)), src.read(info))
    return out.getvalue()


def _float_ids(rng: np.random.Generator, n: int) -> list[str]:
    return [str(x) for x in rng.choice(np.arange(1_900_000, 7_000_000), n, replace=False)]


# -- ingest_bulk: profile files --------------------------------------------


@dataclass
class ProfileSet:
    files: dict[str, bytes]
    raw_rows: int
    kept_rows: int
    silver_rows: int  # EAV rows: non-null TEMP + PSAL over kept rows
    gold_floats: int
    bytes_in: int = field(init=False)

    def __post_init__(self):
        self.bytes_in = sum(len(b) for b in self.files.values())

    def write(self, directory: str) -> None:
        os.makedirs(directory, exist_ok=True)
        for name, data in self.files.items():
            with open(os.path.join(directory, name), "wb") as f:
                f.write(data)


def profile_files(seed: int, n_files: int, n_prof: int = 8, n_lev: int = 50) -> ProfileSet:
    """`n_files` NetCDF-style .npz profile files, one float per file."""
    rng = np.random.default_rng([seed, 1])
    floats = _float_ids(rng, max(1, n_files // 2))
    files: dict[str, bytes] = {}
    kept = silver = 0
    kept_floats: set[str] = set()
    for i in range(n_files):
        fid = floats[int(rng.integers(len(floats)))]
        as_bytes = rng.random() < DIRTY["bytes_id_file"]
        ids = np.array([fid] * n_prof, dtype="U7")
        juld = rng.integers(int(18000 / JULD_QUANTUM), int(27000 / JULD_QUANTUM), n_prof) * JULD_QUANTUM
        lat = np.round(rng.uniform(-70, 70, n_prof), 3)
        lon = np.round(rng.uniform(-179, 179, n_prof), 3)
        bad = rng.random((4, n_prof)) < np.array(
            [[DIRTY["lat_out"]], [DIRTY["lon_out"]], [DIRTY["pre_1999"]], [DIRTY["nan_id"]]]
        )
        lat[bad[0]] = 95.0
        lon[bad[1]] = 190.0
        juld[bad[2]] = rng.integers(int(15000 / JULD_QUANTUM), int(17800 / JULD_QUANTUM), int(bad[2].sum())) * JULD_QUANTUM
        if not as_bytes:
            ids[bad[3]] = "nan"
        else:
            bad[3] = False
        pres = np.round(np.sort(rng.uniform(5, 2000, (n_prof, n_lev)), axis=1), 2)
        temp = np.round(np.clip(28 - pres / 80 + rng.normal(0, 0.5, pres.shape), 1, 30), 3)
        psal = np.round(rng.uniform(33.5, 36.5, pres.shape), 3)
        fills = rng.random((3,) + pres.shape) < DIRTY["fill_value"]
        for arr, mask in zip((pres, temp, psal), fills):
            arr[mask] = FILL
        variables = {
            "PLATFORM_NUMBER": ids.astype("S7") if as_bytes else ids,
            "JULD": juld,
            "LATITUDE": lat,
            "LONGITUDE": lon,
            "PRES": pres,
            "TEMP": temp,
            "PSAL": psal,
        }
        attrs = {
            "JULD": {"units": "days since 1950-01-01"},
            **{v: {"_FillValue": FILL} for v in ("PRES", "TEMP", "PSAL")},
        }
        files[f"R{fid}_{i:05d}.nc"] = _restamp(npz_bytes(variables, attrs))
        ok_prof = ~bad.any(axis=0)
        has_any = ~fills.all(axis=0)  # some measurement survives the fill mask
        rows = ok_prof[:, None] & has_any
        kept += int(rows.sum())
        silver += int((rows & ~fills[1]).sum() + (rows & ~fills[2]).sum())
        if rows.any():
            kept_floats.add(fid)
    return ProfileSet(files, n_files * n_prof * n_lev, kept, silver, len(kept_floats))


# -- search_serve: lineitem-shaped source, vectors, query stream -------------


def lineitem_table(seed: int, n_orders: int, n_supp: int = 1000) -> tuple[pa.Table, int]:
    """The six lineitem columns the argo view derives floats from, plus the
    number of floats that survive cleaning (the argo view drops rows by
    orderkey residue: 97 -> 'nan' id, 101 -> 1995, 103 -> null time,
    107/151 -> bad or null latitude, 109/149 -> bad or null longitude)."""
    rng = np.random.default_rng([seed, 2])
    lines = rng.integers(1, 8, n_orders)
    orderkey = np.repeat(np.arange(1, n_orders + 1, dtype="int64"), lines)
    linenumber = np.concatenate([np.arange(1, n + 1, dtype="int32") for n in lines])
    n = len(orderkey)
    suppkey = rng.integers(1, n_supp + 1, n).astype("int64")
    days = rng.integers(0, 11_300, n)  # 2000-01-01 .. 2030-12-11
    shipdate = (np.datetime64("2000-01-01", "us") + days.astype("timedelta64[D]")).astype("datetime64[us]")
    table = pa.table(
        {
            "l_orderkey": orderkey,
            "l_partkey": rng.integers(1, 20_001, n).astype("int64"),
            "l_suppkey": suppkey,
            "l_linenumber": linenumber,
            "l_quantity": rng.integers(1, 51, n).astype("float64"),
            "l_shipdate": pa.array(shipdate, pa.timestamp("us")),
        }
    )
    dropped = np.zeros(n, bool)
    for m in (97, 101, 103, 107, 109, 149, 151):
        dropped |= orderkey % m == 0
    return table, len(np.unique(suppkey[~dropped]))


def embedding_table(seed: int, n: int, dim: int = 64, n_clusters: int = 16) -> pa.Table:
    rng = np.random.default_rng([seed, 3])
    centers = rng.normal(0, 1, (n_clusters, dim))
    label = rng.integers(0, n_clusters, n)
    vecs = (centers[label] + rng.normal(0, 0.6, (n, dim))).astype("float32")
    return pa.table(
        {
            "vec_id": np.arange(n, dtype="int64"),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": label.astype("int32"),
        }
    )


# (column, op, threshold range) pre-filters over the float metadata
# columns; each passes about 5-20% of the floats, so a pre-filtered query
# encodes a similar number of documents whatever its threshold.
WHERE_COLUMNS = (
    ("lat_min", ">=", (-52.0, -44.0)),
    ("lat_max", "<=", (43.5, 51.0)),
    ("lon_min", ">=", (-160.0, -141.5)),
)
VARS = ("temperature", "salinity", "pressure")
HELPERS = ("geo_box", "time_range", "measurement_range", "extremes", "depth_query",
           "multi_param", "exclude_region")
# The stream's shape is fixed and only its parameters are seeded, so every
# run has the same mix: 60% semantic (a third of them pre-filtered), 20%
# structured (cycling through the seven helpers), 20% ANN. The median then
# falls among the unfiltered semantic and ANN queries, which cost about
# the same, and does not jump between classes from seed to seed.
QUERY_PATTERN = ("semantic", "structured", "ann", "filtered", "semantic")


def query_stream(seed: int, n: int, n_vectors: int) -> list[dict]:
    """Queries in QUERY_PATTERN order with seeded parameters."""
    rng = np.random.default_rng([seed, 4])
    texts = [t for group in CORPUS.values() for t in group]
    out = []
    helpers = 0
    for i in range(n):
        kind = QUERY_PATTERN[i % len(QUERY_PATTERN)]
        if kind in ("semantic", "filtered"):
            q = {"kind": "semantic", "text": texts[int(rng.integers(len(texts)))], "where": None}
            if kind == "filtered":
                col, op, (lo, hi) = WHERE_COLUMNS[int(rng.integers(len(WHERE_COLUMNS)))]
                q["where"] = [col, op, round(float(rng.uniform(lo, hi)), 2)]
        elif kind == "ann":
            q = {"kind": kind, "query_id": int(rng.integers(n_vectors))}
        else:
            q = {"kind": kind, **_structured(rng, HELPERS[helpers % len(HELPERS)])}
            helpers += 1
        out.append(q)
    return out


def _structured(rng: np.random.Generator, helper: str) -> dict:
    u = lambda lo, hi: round(float(rng.uniform(lo, hi)), 2)  # noqa: E731
    if helper in ("geo_box", "exclude_region"):
        lat0, lon0 = u(-60, 40), u(-180, 120)
        args = {"lat": [lat0, lat0 + u(5, 30)], "lon": [lon0, lon0 + u(10, 60)]}
    elif helper == "time_range":
        y = int(rng.integers(2000, 2030))
        args = {"start": f"{y}-01-01", "end": f"{y + int(rng.integers(0, 3))}-06-30"}
    elif helper == "measurement_range":
        var = VARS[int(rng.integers(3))]
        lo, hi = {"temperature": (5, 25), "salinity": (33, 35), "pressure": (300, 1500)}[var]
        a = u(lo, hi)
        args = {"var": var, "lo": a, "hi": a + u(0, (hi - lo) / 4)}
    elif helper == "extremes":
        args = {"var": VARS[int(rng.integers(3))], "k": int(rng.integers(3, 11)),
                "coldest": bool(rng.random() < 0.5)}
    elif helper == "depth_query":
        args = {"min_pressure": u(1000, 1780)}
    else:
        args = {"ranges": {"temperature": [u(15, 29), None], "salinity": [None, u(33, 35)]}}
    return {"helper": helper, "args": args}


# -- upsert_mixed: keyed measurement records in JSON-lines batches ----------

LANDING_SCHEMA = (
    "float_id string, time timestamp, latitude double, longitude double, "
    "level int, pressure double, temperature double, salinity double"
)
KEYS = ("float_id", "time", "level")
RESEND_SHARE = 0.25  # share of a batch that re-sends existing keys, corrected
BATCH_DIRTY = 0.02  # share of new records with latitude 95 (dropped)
BATCH_BYTES_ID = 0.05  # share of new records whose id arrives as b'...'
TEMP_OUT = 0.01  # share of new records with temperature 45 (nulled, row kept)


class LandingStream:
    """Initial table plus numbered batches of measurement records, and the
    keyed table state the program must hold after each batch."""

    def __init__(self, seed: int, n_floats: int, profiles_per_float: int, n_lev: int,
                 batch_profiles: int):
        self.seed = seed
        self.n_lev = n_lev
        self.batch_profiles = batch_profiles
        rng = np.random.default_rng([seed, 5])
        self.floats = _float_ids(rng, n_floats)
        self.state: dict[tuple, dict] = {}
        self.initial = self._profiles(rng, profiles_per_float * n_floats, clean=True)
        self._apply(self.initial)

    def _profiles(self, rng: np.random.Generator, n_prof: int, clean: bool) -> list[dict]:
        recs = []
        for _ in range(n_prof):
            fid = self.floats[int(rng.integers(len(self.floats)))]
            sec = int(rng.integers(946_684_800, 1_900_000_000))  # 2000 .. 2030
            t = np.datetime_as_string(np.datetime64(sec, "s"))
            lat, lon = round(float(rng.uniform(-70, 70)), 3), round(float(rng.uniform(-179, 179)), 3)
            if not clean and rng.random() < BATCH_DIRTY:
                lat = 95.0
            for lev in range(self.n_lev):
                pres = round(5.0 + lev * 40 + float(rng.uniform(0, 30)), 2)
                temp = round(max(1.0, 28 - pres / 80 + float(rng.normal(0, 0.5))), 3)
                if not clean and rng.random() < TEMP_OUT:
                    temp = 45.0
                recs.append({
                    "float_id": f"b'{fid}'" if not clean and rng.random() < BATCH_BYTES_ID else fid,
                    "time": t, "latitude": lat, "longitude": lon, "level": lev,
                    "pressure": pres, "temperature": temp,
                    "salinity": round(float(rng.uniform(33.5, 36.5)), 3),
                })
        return recs

    @staticmethod
    def _kept(rec: dict) -> dict | None:
        """The cleaning rules the planted values exercise."""
        if rec["float_id"] == "nan" or not (-90 <= rec["latitude"] <= 90):
            return None
        out = dict(rec, float_id=rec["float_id"].removeprefix("b'").removesuffix("'"))
        if not (-5 < out["temperature"] < 40):
            out["temperature"] = None
        return out

    def _apply(self, recs: list[dict]) -> None:
        for rec in recs:
            kept = self._kept(rec)
            if kept is not None:
                self.state[(kept["float_id"], kept["time"], kept["level"])] = kept

    def batch(self, index: int) -> tuple[list[dict], set[str]]:
        """Batch `index` (1-based) and the float ids it touches; applies
        it to the expected state. Call in index order."""
        rng = np.random.default_rng([self.seed, 6, index])
        new = self._profiles(rng, self.batch_profiles, clean=False)
        keys = list(self.state)
        picks = rng.choice(len(keys), int(len(new) * RESEND_SHARE / (1 - RESEND_SHARE)), replace=False)
        resent = [
            dict(self.state[keys[int(i)]], temperature=round(float(rng.uniform(2, 28)), 3))
            for i in sorted(picks)
        ]
        taken = set()
        recs = []
        for rec in resent + new:  # one record per key within a batch
            key = (self._kept(rec) or rec)["float_id"], rec["time"], rec["level"]
            if key not in taken:
                taken.add(key)
                recs.append(rec)
        self._apply(recs)
        touched = {k["float_id"] for k in map(self._kept, recs) if k is not None}
        return recs, touched


# -- corpus_dedup: text corpus with planted exact and near duplicates ---------

EXACT_DUP_SHARE = 0.08  # docs that copy an original, re-cased and re-padded
NEAR_DUP_SHARE = 0.08  # docs that copy an original with one word replaced
DOC_WORDS = (60, 100)
VOCAB = 3000


@dataclass
class DedupCorpus:
    table: pa.Table  # doc_id int64, text string
    exact_groups: dict[int, list[int]]  # keeper (min id) -> ids of its group, size >= 2
    near_pairs: set[tuple[int, int]]  # (original, near copy)


def dedup_corpus(seed: int, n_docs: int) -> DedupCorpus:
    """`n_docs` docs of random words. A share are exact copies of an earlier
    original that differ only in case and surrounding blanks, which exact
    dedup normalizes away; a share are near copies with one word replaced
    (3-word-shingle Jaccard about 0.9), the pairs MinHash-LSH should find."""
    rng = np.random.default_rng([seed, 7])
    texts: list[str] = []
    originals: list[int] = []
    near: set[tuple[int, int]] = set()
    for i, kind in enumerate(rng.random(n_docs)):
        if originals and kind < EXACT_DUP_SHARE + NEAR_DUP_SHARE:
            j = originals[int(rng.integers(len(originals)))]
            if kind < EXACT_DUP_SHARE:
                texts.append(" " + texts[j].upper() + "  ")
                continue
            words = texts[j].split(" ")
            words[int(rng.integers(len(words)))] = f"x{int(rng.integers(VOCAB)):04d}"
            texts.append(" ".join(words))
            near.add((j, i))
        else:
            n = int(rng.integers(*DOC_WORDS))
            texts.append(" ".join(f"w{int(k):04d}" for k in rng.integers(VOCAB, size=n)))
            originals.append(i)
    groups: dict[str, list[int]] = {}
    for i, t in enumerate(texts):
        groups.setdefault(t.strip().lower(), []).append(i)
    table = pa.table({"doc_id": pa.array(range(n_docs), pa.int64()), "text": texts})
    return DedupCorpus(table, {ids[0]: ids for ids in groups.values() if len(ids) > 1}, near)


def jsonl(records: list[dict]) -> bytes:
    return "".join(json.dumps(r, sort_keys=True) + "\n" for r in records).encode()


def write_parquet(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
