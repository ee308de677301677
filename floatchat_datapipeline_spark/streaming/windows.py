"""Streaming window operators — the streaming twins of operators/windows.py.

Parity-plus per SURVEY.md §2.12: the reference has no late-data handling;
these are the Structured Streaming built-ins (watermark + window /
session_window / applyInPandasWithState) over the same expressions as the
batch operators, so batch answers serve as the oracle.

Known semantic divergence, replicated in the streaming oracles: Spark's
``session_window`` half-open intervals start a NEW session when the gap
equals the timeout exactly (ts == previous window end), while the batch
gaps-and-islands operator keeps strictly-greater gaps together. The
streaming oracle therefore uses ``>=`` where the batch one uses ``>``.

Scale notes: watermarks bound state — the hourly rollup holds only open
windows per event_type; session state evicts when the watermark passes a
session's end + gap. ``applyInPandasWithState`` state is per user_id,
partitioned by the grouping key across executors.
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from floatchat_datapipeline_spark import memo

SESSION_GAP = "30 minutes"
WATERMARK = "1 hour"


def hourly_rollup_stream(events: DataFrame) -> DataFrame:
    """Watermarked tumbling 1-hour rollup — identical aggregates to the
    batch hourly_rollup; `window('1 hour').start == date_trunc('hour')`."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.approx_count_distinct("user_id").alias("n_users_approx"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("hour"),
            "event_type",
            "n_events",
            "n_users_approx",
            "sum_value",
        )
    )


def session_window_stream(events: DataFrame, gap: str = SESSION_GAP) -> DataFrame:
    """Native session windows with state eviction by watermark. One row per
    (user, session): first/last event ts, count, value sum."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_last_ts"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            "user_id", "session_start", "session_last_ts", "n_events", "sum_value"
        )
    )


# ---------------------------------------------------------------------------
# Custom stateful operator — applyInPandasWithState
# ---------------------------------------------------------------------------

USER_STATE_SCHEMA = StructType(
    [
        StructField("n_events", LongType()),
        StructField("sum_value", DoubleType()),
        StructField("last_ts", TimestampType()),
    ]
)

USER_STATS_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("sum_value", DoubleType()),
        StructField("last_ts", TimestampType()),
    ]
)


def _update_user_stats(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
):
    """Running per-user totals across micro-batches. State carries
    (count, sum, last event ts); each batch folds its rows in and emits
    the updated totals — the streaming form of a keyed running aggregate
    the built-in agg can't express incrementally per-update."""
    n, s, last = state.get if state.exists else (0, 0.0, None)
    for pdf in pdfs:
        n += len(pdf)
        s += float(pdf["value"].sum())
        batch_max = pdf["ts"].max()
        last = batch_max if last is None or batch_max > last else last
    state.update((n, s, last))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "sum_value": [round(s, 2)],
            "last_ts": [last],
        }
    )


def user_stats_stateful(events: DataFrame) -> DataFrame:
    """Custom stateful operator: per-user running (count, sum, last ts)
    maintained in GroupState, emitted on every update."""
    return (
        events.select("user_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_user_stats,
            outputStructType=USER_STATS_SCHEMA,
            stateStructType=USER_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def dedup_stream(events: DataFrame, key: str = "event_id") -> DataFrame:
    """Streaming exact dedup with bounded state: duplicates arriving within
    the watermark horizon are dropped; state for old keys is evicted."""
    return events.withWatermark("ts", WATERMARK).dropDuplicatesWithinWatermark(
        [key]
    )


def sliding_rollup_stream(events: DataFrame) -> DataFrame:
    """Watermarked SLIDING window (1 h window, 30 min slide): every event
    lands in two overlapping windows — the overlap is what tumbling can't
    express (e.g. rolling hourly rates refreshed every half hour)."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 hour", "30 minutes"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("w_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def interval_join_stream(
    probe: DataFrame,
    build: DataFrame,
    on: str = "user_id",
    window_seconds: int = 600,
    id_col: str = "event_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Stream-stream interval join: every probe event pairs with the same
    key's build events inside [probe.ts, probe.ts + window). The streaming
    twin of operators/timeseries.binned_range_agg's join stage — dual
    watermarks plus the two-sided time-range predicate let Spark evict
    buffered rows once the other side's watermark passes the window, so
    state stays bounded by (watermark + window) × arrival rate, never the
    full history. Inner join → append mode (rows finalize as soon as they
    match; no retraction needed).

    Output: (on, probe_id, probe_ts, match_id, match_ts, match_cents)."""
    p = probe.select(
        F.col(on),
        F.col(id_col).alias("probe_id"),
        F.col(ts_col).alias("probe_ts"),
    ).withWatermark("probe_ts", WATERMARK)
    b = build.select(
        F.col(on).alias("_bkey"),
        F.col(id_col).alias("match_id"),
        F.col(ts_col).alias("match_ts"),
        # exact integer cents at the source (same rule as the batch twin)
        F.round(F.col(value_col) * 100, 0).cast("long").alias("match_cents"),
    ).withWatermark("match_ts", WATERMARK)
    return p.join(
        b,
        (F.col(on) == F.col("_bkey"))
        & (F.col("match_ts") >= F.col("probe_ts"))
        & (
            F.col("match_ts")
            < F.col("probe_ts") + F.expr(f"INTERVAL {window_seconds} SECONDS")
        ),
    ).select(on, "probe_id", "probe_ts", "match_id", "match_ts", "match_cents")


def enrich_stream(
    events: DataFrame,
    dim: DataFrame,
    on_left: str,
    on_right: str,
) -> DataFrame:
    """Stream-static enrichment join (SURVEY §2.14 S11): each streamed row
    picks up its dimension attributes from a STATIC DataFrame. The static
    side is pinned `broadcast()` — a stream-static join must never shuffle
    the stream (Structured Streaming re-evaluates the static side per
    micro-batch; broadcasting makes that a map-side hash probe, the same
    plan a 1000-executor cluster wants for a dim of any broadcastable
    size). No watermark needed: the join itself is stateless.

    The reference's closest behavior is the per-upload metadata lookup in
    fastapi_app.py's ingest path (file → float metadata join); here it is
    a declarative join the stream's micro-batches execute incrementally.
    """
    return events.join(
        F.broadcast(dim), F.col(on_left) == F.col(on_right)
    )


# ---------------------------------------------------------------------------
# Custom stateful operator — transformWithStateInPandas (Spark 4 API)
# ---------------------------------------------------------------------------

def _cents_half_up(values: pd.Series) -> pd.Series:
    """Exact cents with ROUND HALF AWAY FROM ZERO — pandas .round() is
    half-even (round(12.5)=12) while Spark F.round and DuckDB round are
    half-up (13), so a 3-decimal value like 0.125 would silently break
    the stream/batch cent parity this operator's oracle asserts."""
    import numpy as np

    x = values * 100
    return pd.Series(
        np.where(x >= 0, np.floor(x + 0.5), np.ceil(x - 0.5)),
        index=values.index,
    ).astype("int64")


TYPE_COUNTER_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("n_events", LongType()),
        StructField("sum_value", DoubleType()),
    ]
)


def tws_available() -> bool:
    """transformWithStateInPandas runs a protobuf-based Python state
    server; gate on a working google.protobuf (absent/broken in the test
    sandbox — same import-gate rule as xarray and sentence-transformers)."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except Exception:
        # broken installs raise TypeError/RuntimeError from the C
        # extension, not just ImportError — any failure means the TWS
        # runner can't start, so fall back either way
        return False


def type_counters_tws(events: DataFrame) -> DataFrame:
    """Per-(user, event_type) running counters via Spark 4's
    ``transformWithStateInPandas`` — the successor API to
    applyInPandasWithState (user_stats_stateful) with TYPED, composable
    state primitives instead of one state tuple. Here the per-user state
    is a MapState keyed by event_type holding exact integer (count,
    cents) — value math in cents so replay order cannot perturb a float
    accumulation — and each micro-batch emits the updated totals for the
    types it touched (update semantics, the reference's ON CONFLICT
    counter-upsert as a stream).

    Scale: state lives in the per-partition state store keyed by
    user_id; a MapState entry per (user, type) — reads/writes touch only
    the types present in the batch, not the whole user map, which is the
    point of MapState over a monolithic ValueState blob at 100 TB.

    When the TWS Python runner can't start (no working google.protobuf
    in this sandbox), falls back to ``applyInPandasWithState`` grouped
    directly by (user_id, event_type) with the SAME exact-cents state
    and output — the oracle checks either path."""
    if not tws_available():
        return _type_counters_apiws(events)
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class TypeCounters(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._counts = handle.getMapState(
                "per_type",
                "event_type string",
                "n bigint, cents bigint",
            )

        def handleInputRows(self, key, rows, timerValues):
            touched: dict[str, tuple[int, int]] = {}
            for pdf in rows:
                cents = _cents_half_up(pdf["value"])
                grp = pdf.assign(cents=cents).groupby("event_type")["cents"]
                for et, s in grp.agg(["count", "sum"]).iterrows():
                    n0, c0 = touched.get(et, (0, 0))
                    touched[et] = (n0 + int(s["count"]), c0 + int(s["sum"]))
            out = []
            for et, (dn, dc) in sorted(touched.items()):
                if self._counts.containsKey((et,)):
                    n0, c0 = self._counts.getValue((et,))
                else:
                    n0, c0 = 0, 0
                n1, c1 = n0 + dn, c0 + dc
                self._counts.updateValue((et,), (n1, c1))
                out.append((key[0], et, n1, c1 / 100.0))
            yield pd.DataFrame(
                out, columns=["user_id", "event_type", "n_events", "sum_value"]
            )

        def close(self) -> None:
            pass

    return (
        events.select("user_id", "event_type", "value")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=TypeCounters(),
            outputStructType=TYPE_COUNTER_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )
    )


def _type_counters_apiws(events: DataFrame) -> DataFrame:
    """applyInPandasWithState fallback for type_counters_tws: grouping by
    (user_id, event_type) makes the per-group state a single (n, cents)
    tuple, semantically identical to one MapState entry."""

    def update(key, pdfs, state: GroupState):
        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            cents += int(_cents_half_up(pdf["value"]).sum())
        state.update((n, cents))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "event_type": [key[1]],
                "n_events": [n],
                "sum_value": [cents / 100.0],
            }
        )

    return (
        events.select("user_id", "event_type", "value")
        .groupBy("user_id", "event_type")
        .applyInPandasWithState(
            update,
            outputStructType=TYPE_COUNTER_SCHEMA,
            stateStructType=StructType(
                [
                    StructField("n", LongType()),
                    StructField("cents", LongType()),
                ]
            ),
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def neardup_intake_stream(
    stream_docs: DataFrame,
    corpus_docs: DataFrame,
    max_bucket: int = 4096,
    cache_key: str | None = None,
) -> DataFrame:
    """Streaming near-dup intake gate: every arriving document is checked
    against the existing corpus's MinHash-LSH index — the admission
    control a training-data pipeline runs on ingest, as a stream-static
    equi-join.

    The static side is the corpus's (band, band_key, corpus_id) index
    (operators/dedup.lsh_band_keys); degenerate buckets above
    `max_bucket` are dropped — a boilerplate band key would otherwise
    fan every arriving doc into thousands of matches (singleton buckets
    are KEPT, unlike the batch pair path: a stream doc matching a
    one-doc bucket is exactly the signal wanted). The stream side
    computes its band keys map-only inside the micro-batch (no
    rebalance probe on a streaming frame), joins on (band, band_key) —
    a hash join per micro-batch, broadcast when the index is dim-sized
    — and aggregates matches per (arriving doc, corpus doc) with the
    shared-band count as match strength. At 100 TB the index lives as a
    bucketed table keyed by band_key, making the per-batch join
    shuffle-free on the static side."""
    from pyspark.sql import Window as W

    from floatchat_datapipeline_spark.operators.dedup import lsh_band_keys

    def corpus_index() -> DataFrame:
        keys = lsh_band_keys(corpus_docs, id_col="doc_id").select(
            F.col("doc_id").alias("corpus_id"), "band", "band_key"
        )
        bucket_n = F.count(F.lit(1)).over(W.partitionBy("band", "band_key"))
        # materialize the index ONCE: a stream-static join re-evaluates
        # the static plan every micro-batch, which would recompute the
        # corpus minhash per batch — the localCheckpoint is the harness
        # stand-in for the persisted bucketed index table named below,
        # and the memo (same lifecycle as the PQ/IVF codebooks) makes the
        # build a one-time per-corpus cost rather than a per-query one
        return (
            keys.withColumn("_n", bucket_n)
            .filter(F.col("_n") <= max_bucket)
            .drop("_n")
            .localCheckpoint(eager=True)
        )

    corpus_keys = memo.lookup(
        "lsh-index", cache_key, (max_bucket,), corpus_docs, corpus_index
    )
    # a file-source micro-batch arrives with one partition per FILE, so
    # without this the whole batch's minhash runs on one core; the
    # repartition is the streaming stand-in for rebalance (whose width
    # probe reads batch scan metadata). Width = default parallelism —
    # the signature is the expensive map stage, the join reshuffles by
    # band key anyway.
    stream_wide = stream_docs.repartition(
        stream_docs.sparkSession.sparkContext.defaultParallelism
    )
    stream_keys = lsh_band_keys(
        stream_wide, id_col="doc_id", balance=False
    )
    return (
        stream_keys.join(corpus_keys, ["band", "band_key"])
        .filter(F.col("doc_id") != F.col("corpus_id"))
        .groupBy("doc_id", "corpus_id")
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )


# ---------------------------------------------------------------------------
# Custom stateful operator — streaming EWMA control chart (TS8 twin, S16)
# ---------------------------------------------------------------------------

EWMA_STATE_SCHEMA = StructType(
    [
        StructField("ewma", DoubleType()),
    ]
)

EWMA_ANOMALY_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("value", DoubleType()),
        StructField("prev_ewma", DoubleType()),
    ]
)

_EWMA_ALPHA = 0.5
_EWMA_THRESHOLD = 150.0


def _update_ewma(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
):
    """Streaming form of operators/timeseries.ewma_anomalies: the EWMA
    tracker lives in GroupState across micro-batches; each batch sorts
    its rows into event order, replays the identical recurrence
    (alpha=0.5 — every multiply IEEE-exact, so state and emissions stay
    bit-identical to the batch operator and its recursive-CTE oracle),
    and emits ONLY the anomalous rows — monitoring/admission control at
    ingest. Per-key order across batches relies on the source replaying
    in event order (the harness AvailableNow file source delivers one
    batch); within a batch the sort makes order explicit."""
    a, b, thr = _EWMA_ALPHA, 1.0 - _EWMA_ALPHA, _EWMA_THRESHOLD
    ewma = state.get[0] if state.exists else None
    frames = [pdf for pdf in pdfs if len(pdf)]
    out_ids: list[int] = []
    out_ts: list = []
    out_val: list[float] = []
    out_prev: list[float] = []
    if frames:
        pdf = (
            pd.concat(frames, ignore_index=True)
            .sort_values(["ts", "event_id"])
            .reset_index(drop=True)
        )
        for eid, ts, xv in zip(
            pdf["event_id"], pdf["ts"], pdf["value"].astype(float)
        ):
            xv = float(xv)
            if ewma is not None:
                if abs(xv - ewma) > thr:
                    out_ids.append(int(eid))
                    out_ts.append(ts)
                    out_val.append(xv)
                    out_prev.append(ewma)
                ewma = a * xv + b * ewma
            else:
                ewma = xv
    state.update((ewma,))
    yield pd.DataFrame(
        {
            "user_id": [key[0]] * len(out_ids),
            "event_id": out_ids,
            "ts": out_ts,
            "value": out_val,
            "prev_ewma": out_prev,
        }
    )


def ewma_anomaly_stream(events: DataFrame) -> DataFrame:
    """S16 — streaming EWMA control-chart anomaly detection: per-user
    continuous state (the tracker) in applyInPandasWithState, anomalous
    events emitted as they arrive. State is ONE double per key —
    bounded regardless of stream length, the property that makes a
    recurrence safe at 100 TB where a windowed approach would buffer
    rows."""
    return (
        events.select("user_id", "event_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_ewma,
            outputStructType=EWMA_ANOMALY_SCHEMA,
            stateStructType=EWMA_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


CAPPED_SESSION_STATE_SCHEMA = StructType(
    [
        StructField("seq", LongType()),
        StructField("start_s", LongType()),
        StructField("prev_s", LongType()),
        StructField("n", LongType()),
    ]
)

CAPPED_SESSION_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_seq", LongType()),
        StructField("start_s", LongType()),
        StructField("end_s", LongType()),
        StructField("n_events", LongType()),
    ]
)

_CAP_GAP_S = 1800
_CAP_MAX_S = 1800


def _update_capped_session(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
):
    """Streaming form of operators/timeseries.capped_sessions: the open
    session (seq, start, last-event, count) lives in GroupState — four
    BIGINTs per key, bounded regardless of stream length. Each batch
    replays the identical integer recurrence in event order and emits
    every session it CLOSES plus the still-open tail session (so a
    single-batch AvailableNow replay reproduces the batch operator
    row-for-row; across multiple batches the tail row would re-emit as
    it grows — update-mode semantics, same caveat as the other
    streaming recurrences on this harness's one-batch source)."""
    gap, cap = _CAP_GAP_S, _CAP_MAX_S
    if state.exists:
        seq, start, prev, n = (int(v) for v in state.get)
    else:
        seq = 0
        start = prev = n = 0
    frames = [pdf for pdf in pdfs if len(pdf)]
    closed: list[tuple] = []
    if frames:
        pdf = (
            pd.concat(frames, ignore_index=True)
            .sort_values(["ts_s", "event_id"])
            .reset_index(drop=True)
        )
        for t in pdf["ts_s"]:
            t = int(t)
            if seq == 0 or t - prev > gap or t - start > cap:
                if seq:
                    closed.append((key[0], seq, start, prev, n))
                seq += 1
                start = t
                n = 0
            n += 1
            prev = t
    state.update((seq, start, prev, n))
    rows = closed + ([(key[0], seq, start, prev, n)] if seq else [])
    yield pd.DataFrame(
        rows,
        columns=["user_id", "session_seq", "start_s", "end_s", "n_events"],
    )


def capped_session_stream(events: DataFrame) -> DataFrame:
    """S19 — streaming gap + max-duration sessionization: the duration
    cap is a true recurrence no session_window expresses, so the open
    session is custom GroupState (applyInPandasWithState). Arithmetic
    is all BIGINT epoch seconds — identical to the batch operator, so
    the SAME recursive-CTE oracle value-checks the stream."""
    from floatchat_datapipeline_spark.functions.eventtime import (
        epoch_seconds,
    )

    return (
        events.select(
            "user_id",
            epoch_seconds(F.col("ts")).alias("ts_s"),
            "event_id",
        )
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_capped_session,
            outputStructType=CAPPED_SESSION_SCHEMA,
            stateStructType=CAPPED_SESSION_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Streaming SPRT (S21) — the TS35 sequential test as bounded GroupState
# ---------------------------------------------------------------------------

# Wald SPRT constants (canonical home; queries.q_events_sprt shares
# them): purchase-share p0 = 0.18 vs p1 = 0.22 at alpha = beta = 0.05,
# LLR steps and boundary quantized ONCE to 1e-9 BIGINT nanos so the walk
# is pure integer arithmetic in both engines and in this stream op.
SPRT_STEP_POS = 200670695  # round(ln(0.22/0.18) * 1e9)
SPRT_STEP_NEG = -50010421  # round(ln(0.78/0.82) * 1e9)
SPRT_BOUND = 2944438979  # round(ln(0.95/0.05) * 1e9)

SPRT_STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("llr", LongType()),
        StructField("up_step", LongType()),
        StructField("down_step", LongType()),
    ]
)

SPRT_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("n_obs", LongType()),
        StructField("up_step", LongType()),
        StructField("down_step", LongType()),
        StructField("llr_final_nanos", LongType()),
    ]
)


def _update_sprt(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
):
    """Streaming form of queries.q_events_sprt: the open test per event
    type is FOUR BIGINTs of GroupState (observation count, LLR walk
    height, first up/down crossing steps; 0 = not crossed) — bounded
    regardless of stream length, exactly the point of a sequential
    test: the decision state is O(1), the data need never be kept.
    Each batch replays the identical integer recurrence in (ts_s,
    event_id) order and emits the current report row (update-mode
    semantics; under this harness's one-batch AvailableNow replay the
    single emitted row equals the batch operator's row)."""
    if state.exists:
        n, llr, up_step, down_step = (int(v) for v in state.get)
    else:
        n = llr = up_step = down_step = 0
    frames = [pdf for pdf in pdfs if len(pdf)]
    if frames:
        pdf = (
            pd.concat(frames, ignore_index=True)
            .sort_values(["ts_s", "event_id"])
            .reset_index(drop=True)
        )
        for cents in pdf["cents"]:
            n += 1
            llr += SPRT_STEP_POS if int(cents) >= 6000 else SPRT_STEP_NEG
            if llr >= SPRT_BOUND and up_step == 0:
                up_step = n
            if llr <= -SPRT_BOUND and down_step == 0:
                down_step = n
    state.update((n, llr, up_step, down_step))
    yield pd.DataFrame(
        [(key[0], n, up_step, down_step, llr)],
        columns=[
            "event_type",
            "n_obs",
            "up_step",
            "down_step",
            "llr_final_nanos",
        ],
    )


def sprt_stream(events: DataFrame) -> DataFrame:
    """S21 — streaming Wald SPRT per event type: the monitoring form of
    the TS35 batch query — the decision fires the moment the walk
    crosses a boundary, which is the whole value of a sequential test
    on a live stream (a fixed-N test cannot stop early). State is four
    BIGINTs per key; the value threshold is carried as exact cents so
    the outcome predicate is integer on both engines."""
    from floatchat_datapipeline_spark.functions.eventtime import (
        epoch_seconds,
    )

    keyed = events.select(
        "event_type",
        epoch_seconds(F.col("ts")).alias("ts_s"),
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    return keyed.groupBy("event_type").applyInPandasWithState(
        _update_sprt,
        outputStructType=SPRT_SCHEMA,
        stateStructType=SPRT_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
