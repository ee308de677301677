"""Streaming surface tests — batch/stream parity + ingest idempotency.

Each streaming operator runs under Trigger.AvailableNow and must equal
its batch twin (computed with plain DataFrame ops in the same session).
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from floatchat_datapipeline_spark.catalog import load_table
from floatchat_datapipeline_spark.streaming.ingest import ingest_landing_to_table
from floatchat_datapipeline_spark.streaming.run import materialize
from floatchat_datapipeline_spark.streaming.sources import stream_table
from floatchat_datapipeline_spark.streaming.windows import (
    dedup_stream,
    hourly_rollup_stream,
    session_window_stream,
    user_stats_stateful,
)


def _sets(df):
    return {tuple(r) for r in df.collect()}


def test_stream_hourly_matches_batch(spark, sf_dir):
    got = materialize(
        hourly_rollup_stream(stream_table(spark, sf_dir, "events")),
        "t_hourly",
    )
    ev = load_table(spark, sf_dir, "events")
    want = (
        ev.groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.approx_count_distinct("user_id").alias("n_users_approx"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )
    assert _sets(got) == _sets(want)


def test_stream_sessions_match_batch_ge_semantics(spark, sf_dir):
    from pyspark.sql import Window

    got = materialize(
        session_window_stream(stream_table(spark, sf_dir, "events")),
        "t_sessions",
    )
    # batch gaps-and-islands with >= (session_window's half-open boundary)
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # microsecond precision: session_window's boundary is exact
    # (new session iff ts >= prev_ts + gap), so a seconds-truncated diff
    # would misclassify fractional-second gaps near 1800 s.
    flagged = ev.withColumn(
        "_new",
        F.when(
            F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
            >= 1800 * 1_000_000,
            1,
        ).otherwise(0),
    ).withColumn("session_seq", F.sum("_new").over(w))
    want = flagged.groupBy("user_id", "session_seq").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_last_ts"),
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    ).drop("session_seq")
    assert _sets(got) == _sets(want)


def test_stateful_user_stats(spark, sf_dir):
    got = materialize(
        user_stats_stateful(stream_table(spark, sf_dir, "events")),
        "t_user_stats",
        output_mode="update",
    )
    ev = load_table(spark, sf_dir, "events")
    want = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        F.max("ts").alias("last_ts"),
    )
    # update mode may emit a row per micro-batch; AvailableNow on one file
    # yields exactly one batch, so counts line up 1:1.
    assert _sets(got) == _sets(want)


def test_stream_dedup_noop_on_unique_keys(spark, sf_dir):
    got = materialize(
        dedup_stream(stream_table(spark, sf_dir, "events")),
        "t_dedup",
        output_mode="append",
    )
    n = load_table(spark, sf_dir, "events").count()
    assert got.count() == n


def test_landing_ingest_idempotent(spark):
    root = tempfile.mkdtemp(prefix="landing-test-")
    landing, table, ckpt = (
        os.path.join(root, d) for d in ("landing", "table", "ckpt")
    )
    os.makedirs(landing)
    try:
        rows1 = [{"k": "a", "v": 1}, {"k": "b", "v": 2}]
        with open(os.path.join(landing, "f1.json"), "w") as f:
            f.write("\n".join(json.dumps(r) for r in rows1))
        # non-matching extension must be ignored (F11 gate)
        with open(os.path.join(landing, "junk.txt"), "w") as f:
            f.write(json.dumps({"k": "z", "v": 99}))
        schema = "k string, v int"
        from pyspark.sql.types import _parse_datatype_string

        sch = _parse_datatype_string(schema)
        ingest_landing_to_table(
            spark, landing, table, ckpt, sch, keys=("k",)
        )
        assert _sets(spark.read.parquet(table)) == {("a", 1), ("b", 2)}

        # second file updates b and adds c; re-run drains only the new file
        with open(os.path.join(landing, "f2.json"), "w") as f:
            f.write(json.dumps({"k": "b", "v": 20}) + "\n" + json.dumps({"k": "c", "v": 3}))
        ingest_landing_to_table(
            spark, landing, table, ckpt, sch, keys=("k",)
        )
        assert _sets(spark.read.parquet(table)) == {
            ("a", 1),
            ("b", 20),
            ("c", 3),
        }
        # replay with same checkpoint: no new files → table unchanged
        ingest_landing_to_table(
            spark, landing, table, ckpt, sch, keys=("k",)
        )
        assert _sets(spark.read.parquet(table)) == {
            ("a", 1),
            ("b", 20),
            ("c", 3),
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_type_counters_matches_batch_groupby(spark, sf_dir):
    """S14: the typed-state counter stream (TWS when the protobuf runner
    exists, the applyInPandasWithState fallback otherwise) must equal the
    batch GROUP BY in exact cents."""
    from floatchat_datapipeline_spark.streaming.run import materialize
    from floatchat_datapipeline_spark.streaming.sources import stream_table
    from floatchat_datapipeline_spark.streaming.windows import (
        type_counters_tws,
    )

    got = (
        materialize(
            type_counters_tws(stream_table(spark, sf_dir, "events")),
            "t_type_counters",
            output_mode="update",
        )
        .toPandas()
        .sort_values(["user_id", "event_type"])
        .reset_index(drop=True)
    )
    want = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (
                F.sum(F.round(F.col("value") * 100).cast("long")) / 100.0
            ).alias("sum_value"),
        )
        .toPandas()
        .sort_values(["user_id", "event_type"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want)
    assert (got["n_events"].to_numpy() == want["n_events"].to_numpy()).all()
    assert (got["sum_value"].to_numpy() == want["sum_value"].to_numpy()).all()


def test_tws_gate_reports_environment():
    """Documents which S14 path this environment runs; the TWS primary
    path needs a working google.protobuf for the state-server runner."""
    from floatchat_datapipeline_spark.streaming.windows import tws_available

    assert tws_available() in (True, False)


def test_neardup_intake_index_memoized(spark, sf_dir):
    """S15: the corpus band-key index must build once per cache_key (the
    PQ/IVF codebook lifecycle) — the second call reuses the materialized
    RDD instead of re-running the corpus minhash."""
    from floatchat_datapipeline_spark import memo
    from floatchat_datapipeline_spark.streaming import windows as sw

    memo.reset()
    docs = load_table(spark, sf_dir, "documents")
    # build via the batch path twice with the same key
    out1 = sw.neardup_intake_stream(docs, docs, cache_key="k1")
    n1 = out1.count()
    (slot,) = [s for s in memo._STORE if s[0] == "lsh-index"]
    assert slot[1:3] == ("k1", (4096,))
    cached = memo._STORE[slot][1]
    out2 = sw.neardup_intake_stream(docs, docs, cache_key="k1")
    assert memo._STORE[slot][1] is cached
    assert out2.count() == n1
    # the cached index is a materialized lineage cut, not the live plan
    assert "ExistingRDD" in cached._jdf.queryExecution().executedPlan().toString()
    memo.reset()
