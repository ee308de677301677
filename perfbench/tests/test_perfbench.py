"""Tests of the benchmark itself: seeded generators are deterministic, and
BENCHMARK.json is well formed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import io
import json
import os
import re
import shutil
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _parquet_bytes(table) -> bytes:
    buf = io.BytesIO()
    pq.write_table(table, buf)
    return buf.getvalue()


def _landing(seed: int) -> list[bytes]:
    stream = gen.LandingStream(seed, n_floats=6, profiles_per_float=2, n_lev=4, batch_profiles=3)
    return [gen.jsonl(stream.initial)] + [gen.jsonl(stream.batch(i)[0]) for i in (1, 2)]


def _inputs(seed: int) -> dict[str, object]:
    files = gen.profile_files(seed, 6)
    lineitem, _ = gen.lineitem_table(seed, 200, n_supp=20)
    return {
        "profile_files": files.files,
        "lineitem": _parquet_bytes(lineitem),
        "embeddings": _parquet_bytes(gen.embedding_table(seed, 50)),
        "queries": json.dumps(gen.query_stream(seed, 200, 50)),
        "landing": _landing(seed),
        "dedup_corpus": _parquet_bytes(gen.dedup_corpus(seed, 300).table),
    }


@pytest.mark.parametrize(
    "kind", ["profile_files", "lineitem", "embeddings", "queries", "landing", "dedup_corpus"])
def test_same_seed_gives_byte_identical_inputs(kind):
    assert _inputs(7)[kind] == _inputs(7)[kind]
    assert _inputs(7)[kind] != _inputs(8)[kind]


def test_profile_files_plant_dirty_values_and_decode():
    from floatchat_datapipeline_spark.sources.netcdf import decode_profile_file

    data = gen.profile_files(3, 40)
    assert data.raw_rows == 40 * 8 * 50
    assert 0 < data.silver_rows < 2 * data.kept_rows < 2 * data.raw_rows
    frames = [decode_profile_file(name, b) for name, b in data.files.items()]
    ids = {i for f in frames for i in f["float_id"]}
    assert "nan" in ids and any(i.startswith("b'") for i in ids)
    assert sum(len(f) for f in frames) == data.raw_rows


def test_landing_batches_resend_existing_keys():
    stream = gen.LandingStream(5, n_floats=10, profiles_per_float=4, n_lev=5, batch_profiles=8)
    before = dict(stream.state)
    records, touched = stream.batch(1)
    resent = [r for r in records if (r["float_id"], r["time"], r["level"]) in before]
    assert len(resent) >= len(records) * gen.RESEND_SHARE * 0.8
    assert touched and touched <= {k[0] for k in stream.state}


def test_dedup_corpus_plants_exact_and_near_duplicates():
    corpus = gen.dedup_corpus(4, 1_000)
    texts = corpus.table.column("text").to_pylist()
    assert corpus.exact_groups and corpus.near_pairs
    for keeper, ids in corpus.exact_groups.items():
        assert keeper == min(ids)
        assert len({texts[i].strip().lower() for i in ids}) == 1
        assert all(texts[i] != texts[keeper] for i in ids[1:])  # differ before normalizing
    for a, b in corpus.near_pairs:
        wa, wb = texts[a].split(" "), texts[b].split(" ")
        assert a < b and len(wa) == len(wb) and sum(x != y for x, y in zip(wa, wb)) == 1


def test_query_stream_has_the_same_shape_for_every_seed():
    def shape(seed):
        return [(q["kind"], q.get("helper"), q.get("where") is None)
                for q in gen.query_stream(seed, 50, 100)]

    assert shape(1) == shape(2)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_names_and_units_are_valid():
    spec = _spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    names = [w["name"] for w in spec["workloads"]]
    names += [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert all(NAME.match(n) for n in names), [n for n in names if not NAME.match(n)]
    assert len(names) == len(set(names))
    assert 2 <= len(spec["workloads"]) <= 8
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert UNIT.match(m["unit"]) and m["better"] in ("lower", "higher")


def test_setup_s_has_the_largest_bound():
    e2e = {m["name"]: m for m in _spec()["end_to_end"]}
    setup = e2e["setup_s"]
    assert (setup["unit"], setup["better"]) == ("s", "lower")
    assert setup["bound"] == max(m["bound"] for m in e2e.values())


def test_run_fails_without_the_program(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark, the
    run must fail fast and print no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    name = _spec()["workloads"][0]["name"]
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", name, "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert p.returncode != 0
    assert p.stdout == ""
