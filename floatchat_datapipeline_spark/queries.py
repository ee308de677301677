"""Query registry — the engine's public query surface with DuckDB oracles.

Each entry pairs a Spark-side implementation (DataFrame API, built on the
operator modules) with an equivalent DuckDB SQL oracle, keyed by the
SURVEY.md §2 operator(s) it exercises. The driver's correctness gate runs
both at sf0.01 and hash-compares; tests/test_driver_parity.py runs the same
comparison locally at sf0.001.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from floatchat_datapipeline_spark.functions.eventtime import epoch_seconds

from floatchat_datapipeline_spark import memo
from floatchat_datapipeline_spark.catalog import load_table
from floatchat_datapipeline_spark.operators import cleaning
from floatchat_datapipeline_spark.operators.aggregate import (
    float_metadata_agg,
    global_stats,
)
from floatchat_datapipeline_spark.operators.reshape import melt_profiles_eav
from floatchat_datapipeline_spark.functions.vector import cosine
from floatchat_datapipeline_spark.plans.argo_views import (
    VALID_TIME_MAX,
    VALID_TIME_MIN,
    argo_raw_cte,
    argo_raw_df,
)


@dataclass(frozen=True)
class QuerySpec:
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]  # DuckDB SQL; None → driver does rows-only check
    survey_ops: tuple[str, ...] = ()  # SURVEY.md §2 operator ids covered


# ---------------------------------------------------------------------------
# Shared oracle SQL fragments (DuckDB dialect) mirroring operators/cleaning.py
# ---------------------------------------------------------------------------

_CLEAN_SQL = f"""
cleaned AS (
  SELECT * FROM argo_raw
  WHERE float_id <> 'nan'
    AND float_id IS NOT NULL AND time IS NOT NULL
    AND latitude IS NOT NULL AND longitude IS NOT NULL
    AND time BETWEEN TIMESTAMP '{VALID_TIME_MIN}' AND TIMESTAMP '{VALID_TIME_MAX}'
    AND latitude BETWEEN -90 AND 90
    AND longitude BETWEEN -180 AND 180
),
argo_clean AS (
  SELECT * FROM (
    SELECT
      trim(regexp_replace(float_id, '^b''|''$', '', 'g')) AS float_id,
      profile_id, time, latitude, longitude,
      CASE WHEN pressure > 0 AND pressure < 6000 THEN pressure END AS pressure,
      CASE WHEN depth > 0 AND depth < 6000 THEN depth END AS depth,
      CASE WHEN temperature > -5 AND temperature < 40 THEN temperature END AS temperature,
      CASE WHEN salinity > 0 AND salinity < 50 THEN salinity END AS salinity,
      level
    FROM cleaned
  )
  WHERE temperature IS NOT NULL OR salinity IS NOT NULL
     OR pressure IS NOT NULL OR depth IS NOT NULL
)
"""


def _argo_oracle(body: str) -> str:
    return argo_raw_cte(f", {_CLEAN_SQL} {body}")


def _argo_clean_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized silver: nine queries consume the identical cleaned
    measurement view; in a lakehouse this IS a silver table written once
    per ingest. Persisted on first use per sf_dir (memory+disk) so
    per-query timings measure the query, not a re-run of the ingest chain."""
    raw = argo_raw_df(spark, sf_dir)
    return memo.lookup(
        "silver", sf_dir, (), raw, lambda: cleaning.clean_argo(raw).persist()
    )


# ---------------------------------------------------------------------------
# Query implementations
# ---------------------------------------------------------------------------


def q_argo_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1-F7 + P3/P4: full cleaning chain over the dirty measurement table."""
    return _argo_clean_df(spark, sf_dir)


_ARGO_CLEAN_ORACLE = _argo_oracle("SELECT * FROM argo_clean")


def q_argo_float_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: per-float metadata aggregate over the cleaned table."""
    return float_metadata_agg(_argo_clean_df(spark, sf_dir))


_ARGO_FLOAT_METADATA_ORACLE = _argo_oracle(
    """
SELECT
  float_id,
  min(time) AS deploy_date,
  max(time) AS end_date,
  min(latitude) AS lat_min,
  max(latitude) AS lat_max,
  min(longitude) AS lon_min,
  max(longitude) AS lon_max,
  count(DISTINCT profile_id) AS total_profiles,
  count(temperature) AS temperature_count,
  min(temperature) AS temperature_min,
  max(temperature) AS temperature_max,
  avg(temperature) AS temperature_mean,
  count(salinity) AS salinity_count,
  min(salinity) AS salinity_min,
  max(salinity) AS salinity_max,
  avg(salinity) AS salinity_mean,
  count(pressure) AS pressure_count,
  min(pressure) AS pressure_min,
  max(pressure) AS pressure_max,
  avg(pressure) AS pressure_mean,
  count(depth) AS depth_count,
  min(depth) AS depth_min,
  max(depth) AS depth_max,
  avg(depth) AS depth_mean
FROM argo_clean
GROUP BY float_id
"""
)


def q_argo_profiles_eav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R2/R3 + C10: cleaned wide rows → EAV profiles fact table with
    content-derived profile ids."""
    return melt_profiles_eav(_argo_clean_df(spark, sf_dir))


_ARGO_PROFILES_EAV_ORACLE = _argo_oracle(
    """
, keyed AS (
  SELECT *,
    coalesce(profile_id,
             concat(float_id, '_', strftime(time, '%Y%m%d_%H%M%S'))) AS pid,
    strftime(time, '%Y%m%d_%H%M%S') AS ts_key
  FROM argo_clean
),
melted AS (
  SELECT float_id, time AS profile_time, latitude AS lat, longitude AS lon,
         pressure, depth, level, ts_key, 'TEMP' AS variable_name,
         temperature AS variable_value
  FROM keyed WHERE temperature IS NOT NULL
  UNION ALL
  SELECT float_id, time, latitude, longitude, pressure, depth, level, ts_key,
         'PSAL', salinity
  FROM keyed WHERE salinity IS NOT NULL
)
SELECT
  concat(float_id, '_', ts_key, '_', variable_name, '_',
         CAST(level AS STRING)) AS profile_id,
  float_id, profile_time, lat, lon, pressure, depth,
  variable_name, variable_value, level,
  CAST(NULL AS STRING) AS raw_profile
FROM melted
"""
)


def q_tpch_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape — the canonical partial-agg scan (A-family).
    All measures aliased + rounded identically on both sides."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-09-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            # avgs derived from rounded sums — order/engine independent
            # (see operators/windows.py hourly_rollup note)
            # raw IEEE quotients of (exact or rounded) sums — an outer
            # round is not parity-safe on decimal half boundaries (see
            # operators/windows.py hourly_rollup note)
            (F.sum("l_quantity") / F.count(F.lit(1))).alias("avg_qty"),
            (F.round(F.sum("l_extendedprice"), 2) / F.count(F.lit(1))).alias(
                "avg_price"
            ),
            (F.round(F.sum("l_discount"), 4) / F.count(F.lit(1))).alias(
                "avg_disc"
            ),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


_TPCH_PRICING_ORACLE = """
SELECT
  l_returnflag, l_linestatus,
  round(sum(l_quantity), 2) AS sum_qty,
  round(sum(l_extendedprice), 2) AS sum_base_price,
  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
  round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
  sum(l_quantity) / count(*) AS avg_qty,
  round(sum(l_extendedprice), 2) / count(*) AS avg_price,
  round(sum(l_discount), 4) / count(*) AS avg_disc,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape — broadcast dim join + agg + deterministic top-k.
    The customer dim is broadcast (no shuffle of the fact side)."""
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(revenue), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.col("o_orderkey"))
        .limit(10)
    )


_TOP_REVENUE_ORACLE = """
SELECT o_orderkey, o_orderdate, o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey
LIMIT 10
"""


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3/V3: exact brute-force cosine top-k; query vector = vec_id 0,
    joined in by broadcast so the plan has no driver-side collect."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))
    scored = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            F.round(cosine(F.col("embedding"), F.col("qvec")), 6).alias("score"),
        )
    )
    return scored.orderBy(F.desc("score"), F.col("vec_id")).limit(10)


_COSINE_TOPK_ORACLE = """
WITH q AS (
  SELECT CAST(embedding AS DOUBLE[]) AS qvec FROM embeddings WHERE vec_id = 0
)
SELECT vec_id, label,
       round(
         list_dot_product(CAST(embedding AS DOUBLE[]), qvec)
         / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                  CAST(embedding AS DOUBLE[])))
            * sqrt(list_dot_product(qvec, qvec))), 6) AS score
FROM embeddings, q
WHERE vec_id <> 0
ORDER BY score DESC, vec_id
LIMIT 10
"""


# ---------------------------------------------------------------------------
# Events: rollups, sessionization, dedup, JSON props (SURVEY §2.12 batch form)
# ---------------------------------------------------------------------------


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from floatchat_datapipeline_spark.operators.windows import hourly_rollup

    return hourly_rollup(load_table(spark, sf_dir, "events"))


_EVENTS_HOURLY_ORACLE = """
SELECT date_trunc('hour', ts) AS hour, event_type,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       round(sum(value), 2) AS sum_value,
       round(sum(value), 2) / count(*) AS avg_value
FROM events GROUP BY 1, 2
"""


def q_events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from floatchat_datapipeline_spark.operators.windows import sessionize

    return sessionize(load_table(spark, sf_dir, "events"))


_EVENTS_SESSIONS_ORACLE = """
WITH flagged AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN epoch(ts)::BIGINT
                   - lag(epoch(ts)::BIGINT) OVER w > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  -- CAST: DuckDB sum(int) is HUGEINT which lands in pandas as float64;
  -- Spark's is BIGINT. Align for value-hash stability.
  SELECT *, CAST(sum(new_session) OVER w + 1 AS BIGINT) AS session_seq
  FROM flagged
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, session_seq,
       min(ts) AS session_start, max(ts) AS session_end,
       count(*) AS n_events, round(sum(value), 2) AS sum_value
FROM numbered GROUP BY user_id, session_seq
"""


def q_events_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from floatchat_datapipeline_spark.operators.windows import latest_per_key

    return latest_per_key(load_table(spark, sf_dir, "events"))


_EVENTS_LATEST_ORACLE = """
SELECT event_id, ts, user_id, event_type, value, props FROM (
  SELECT *, row_number() OVER (
    PARTITION BY user_id, event_type
    ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""


def q_events_props_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from floatchat_datapipeline_spark.operators.windows import parse_props

    ev = parse_props(load_table(spark, sf_dir, "events"))
    return ev.groupBy("event_type").agg(
        F.count("prop_k").alias("n_with_k"),
        # raw quotient of exact int sums — round(avg, 4) hits decimal
        # half boundaries (see operators/windows.py hourly_rollup note)
        (F.sum("prop_k") / F.count("prop_k")).alias("avg_k"),
    )


_EVENTS_PROPS_ORACLE = """
SELECT event_type,
       count(CAST(json_extract_string(props, '$.k') AS INT)) AS n_with_k,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS DOUBLE)
         / count(CAST(json_extract_string(props, '$.k') AS INT)) AS avg_k
FROM events GROUP BY event_type
"""


def q_doc_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2 — Python UDTF in a LATERAL join: per-document sentence rows
    from `split_sentences` (functions/udtfs.py). The split rule is a
    literal '. ' so DuckDB's string_split replays it exactly; the JVM
    split+posexplode twin is the scale path, the UDTF is the §2.13
    table-function surface. Aggregated per document so the driver
    compare stays compact: sentence count, longest sentence length."""
    from floatchat_datapipeline_spark.functions.udtfs import register_udtfs

    register_udtfs(spark)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "_docs_for_udtf"
    )
    return spark.sql(
        """
        SELECT d.doc_id,
               count(*) AS n_sentences,
               max(s.n_chars) AS max_sent_chars,
               CAST(sum(s.n_chars) AS BIGINT) AS sum_sent_chars
        FROM _docs_for_udtf d, LATERAL split_sentences(d.text) s
        GROUP BY d.doc_id
        ORDER BY d.doc_id
        """
    )


_DOC_SENTENCES_ORACLE = """
SELECT doc_id,
       count(*) AS n_sentences,
       CAST(max(length(s)) AS INT) AS max_sent_chars,
       CAST(sum(length(s)) AS BIGINT) AS sum_sent_chars
FROM (
  SELECT doc_id, unnest(string_split(text, '. ')) AS s
  FROM documents
)
GROUP BY doc_id
ORDER BY doc_id
"""


def q_events_salted_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z2 — skew-proof two-phase aggregation: event_type is the classic
    power-law key (5 values over the whole log), so a plain groupBy
    funnels each type through ONE reducer. salted_agg spreads phase 1
    over (key, salt) buckets and merges algebraic partials on the key —
    identical answers to the plain rollup (the oracle is the UNSALTED
    SQL), which is the whole point: the rewrite buys reducer parallelism,
    never different numbers. Sums run in exact integer cents."""
    from floatchat_datapipeline_spark.plans.skew import salted_agg

    ev = load_table(spark, sf_dir, "events").withColumn(
        "cents", F.round(F.col("value") * 100).cast("long")
    )
    return salted_agg(
        ev,
        ["event_type"],
        {
            "n_events": ("count", "event_id"),
            "sum_cents": ("sum", "cents"),
            "min_cents": ("min", "cents"),
            "max_cents": ("max", "cents"),
        },
    ).orderBy("event_type")


_EVENTS_SALTED_ROLLUP_ORACLE = """
SELECT event_type,
       count(event_id) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
       min(CAST(round(value * 100) AS BIGINT)) AS min_cents,
       max(CAST(round(value * 100) AS BIGINT)) AS max_cents
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def q_events_props_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P12 — the P7 JSON extraction on Spark 4's native VARIANT type:
    parse once (`parse_json` → binary variant), then typed path reads
    (`try_variant_get`) — the open-schema semi-structured path that at
    scale replaces per-access string re-parsing with one decode + cheap
    binary traversals (and, under variant shredding, columnar pushdown).
    Aggregates are exact integer sums, so the string-JSON DuckDB oracle
    is value-identical."""
    ev = load_table(spark, sf_dir, "events")
    k = F.try_variant_get(F.parse_json(F.col("props")), "$.k", "int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_with_k"),
            F.sum("k").cast("long").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


_EVENTS_PROPS_VARIANT_ORACLE = """
SELECT event_type,
       count(k) AS n_with_k,
       CAST(sum(k) AS BIGINT) AS sum_k,
       min(k) AS min_k,
       max(k) AS max_k
FROM (
  SELECT event_type, CAST(json_extract_string(props, '$.k') AS INT) AS k
  FROM events
)
GROUP BY event_type
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# Joins: existence anti-join (J1), fuzzy containment theta join (J2/D3)
# ---------------------------------------------------------------------------


def _existing_floats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'Already in the DB' float set: supplier ids divisible by 3."""
    return (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_suppkey") % 3 == 0)
        .select(F.col("s_suppkey").cast("string").alias("float_id"))
    )


def q_argo_new_floats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from floatchat_datapipeline_spark.operators.joins import anti_join_new_keys

    new = _argo_clean_df(spark, sf_dir).select("float_id").distinct()
    return anti_join_new_keys(new, _existing_floats(spark, sf_dir))


_ARGO_NEW_FLOATS_ORACLE = _argo_oracle(
    """
SELECT DISTINCT float_id FROM argo_clean
WHERE float_id NOT IN (
  SELECT CAST(s_suppkey AS STRING) FROM supplier WHERE s_suppkey % 3 = 0
)
"""
)


def _doc_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirty document-side ids: zero-padded inside b'...' wrappers for even
    suppkeys (containment-match fixture), plain ids otherwise."""
    s = load_table(spark, sf_dir, "supplier")
    padded = F.lpad(F.col("s_suppkey").cast("string"), 4, "0")
    return s.select(
        F.when(
            F.col("s_suppkey") % 2 == 0,
            F.concat(F.lit("b'"), padded, F.lit(" '")),
        )
        .otherwise(F.col("s_suppkey").cast("string"))
        .alias("doc_float_id")
    ).distinct()


def q_argo_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    from floatchat_datapipeline_spark.operators.joins import fuzzy_id_join

    return fuzzy_id_join(
        _doc_ids(spark, sf_dir),
        load_table(spark, sf_dir, "supplier").select(
            F.col("s_suppkey").cast("string").alias("float_id")
        ),
    )


_ARGO_FUZZY_ORACLE = """
WITH docs AS (
  SELECT DISTINCT
    CASE WHEN s_suppkey % 2 = 0
         THEN concat('b''', lpad(CAST(s_suppkey AS STRING), 4, '0'), ' ''')
         ELSE CAST(s_suppkey AS STRING) END AS doc_float_id
  FROM supplier
), d AS (
  SELECT doc_float_id,
         trim(regexp_replace(doc_float_id, '^b''|''$', '', 'g')) AS clean_doc_id
  FROM docs
), f AS (
  SELECT DISTINCT CAST(s_suppkey AS STRING) AS clean_float_id FROM supplier
)
SELECT doc_float_id, clean_doc_id, min(clean_float_id) AS matched_float_id
FROM d LEFT JOIN f
  ON clean_doc_id = clean_float_id
  OR strpos(clean_doc_id, clean_float_id) > 0
  OR strpos(clean_float_id, clean_doc_id) > 0
GROUP BY doc_float_id, clean_doc_id
"""


# ---------------------------------------------------------------------------
# Argo: global stats (A3), profile grouping (A2), classification (C5-C7)
# ---------------------------------------------------------------------------


def q_argo_global_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return global_stats(_argo_clean_df(spark, sf_dir))


_ARGO_GLOBAL_STATS_ORACLE = _argo_oracle(
    """
SELECT
  min(time) AS time_min, max(time) AS time_max,
  min(latitude) AS lat_min, max(latitude) AS lat_max,
  min(longitude) AS lon_min, max(longitude) AS lon_max,
  count(DISTINCT CASE WHEN profile_id IS NOT NULL
                      THEN (float_id, profile_id) END) AS total_profiles,
  count(temperature) AS temperature_count, min(temperature) AS temperature_min,
  max(temperature) AS temperature_max, avg(temperature) AS temperature_mean,
  count(salinity) AS salinity_count, min(salinity) AS salinity_min,
  max(salinity) AS salinity_max, avg(salinity) AS salinity_mean,
  count(pressure) AS pressure_count, min(pressure) AS pressure_min,
  max(pressure) AS pressure_max, avg(pressure) AS pressure_mean,
  count(depth) AS depth_count, min(depth) AS depth_min,
  max(depth) AS depth_max, avg(depth) AS depth_mean
FROM argo_clean
"""
)


def q_argo_profile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from floatchat_datapipeline_spark.operators.aggregate import profile_grouping

    return profile_grouping(_argo_clean_df(spark, sf_dir))


_ARGO_PROFILE_STATS_ORACLE = _argo_oracle(
    """
SELECT float_id, profile_id, time AS profile_time, latitude AS lat,
       longitude AS lon, n_levels
FROM (
  SELECT *,
         row_number() OVER (
           PARTITION BY float_id, profile_id
           ORDER BY level, time, latitude, longitude) AS rn,
         count(*) OVER (PARTITION BY float_id, profile_id) AS n_levels
  FROM argo_clean
) WHERE rn = 1
"""
)


def q_argo_region_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    from floatchat_datapipeline_spark.functions.geo import (
        hemisphere_zone,
        ocean_region,
        season_from_month,
    )

    cl = _argo_clean_df(spark, sf_dir)
    return (
        cl.select(
            ocean_region("latitude", "longitude").alias("region"),
            hemisphere_zone("latitude").alias("zone"),
            season_from_month("time").alias("season"),
        )
        .groupBy("region", "zone", "season")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


_ARGO_REGION_CLASS_ORACLE = _argo_oracle(
    """
SELECT
  CASE WHEN latitude < -60 THEN 'Southern Ocean'
       WHEN latitude > 66 THEN 'Arctic Ocean'
       WHEN longitude >= 20 AND longitude < 120 THEN 'Indian Ocean'
       WHEN longitude >= 120 OR longitude < -70 THEN 'Pacific Ocean'
       ELSE 'Atlantic Ocean' END AS region,
  CASE WHEN latitude < -30 THEN 'southern'
       WHEN latitude > 30 THEN 'northern'
       ELSE 'tropical' END AS zone,
  CASE WHEN month(time) BETWEEN 3 AND 5 THEN 'spring'
       WHEN month(time) BETWEEN 6 AND 8 THEN 'summer'
       WHEN month(time) BETWEEN 9 AND 11 THEN 'autumn'
       ELSE 'winter' END AS season,
  count(*) AS n_rows
FROM argo_clean
GROUP BY 1, 2, 3
"""
)


def q_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape — 5-way join with broadcast dims, revenue by nation."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
            F.round(F.sum(revenue), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


_REGION_REVENUE_ORACLE = """
SELECT r_name, n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_lineitems
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


def q_customer_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function top-N per key: 3 biggest orders per customer."""
    orders = load_table(spark, sf_dir, "orders")
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.col("o_orderkey")
    )
    return (
        orders.withColumn("rank_in_customer", F.row_number().over(w))
        .filter(F.col("rank_in_customer") <= 3)
        .select(
            "o_custkey", "o_orderkey", "o_totalprice", "rank_in_customer"
        )
    )


_CUSTOMER_TOP_ORDERS_ORACLE = """
SELECT o_custkey, o_orderkey, o_totalprice, rank_in_customer FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (
           PARTITION BY o_custkey
           ORDER BY o_totalprice DESC, o_orderkey) AS rank_in_customer
  FROM orders
) WHERE rank_in_customer <= 3
"""


# ---------------------------------------------------------------------------
# Hard relational shapes (SURVEY §2.14 J6-J9, O7, A14) — the correlated-
# subquery / outer-distribution / self-join patterns of TPC-H Q13/Q17/Q21/
# Q22/Q15/Q18, each hand-decorrelated into the join-agg form a 1000-executor
# plan wants (the reference's pandas pipeline has no analog; this is the
# query surface a warehouse migration would exercise).
# ---------------------------------------------------------------------------


def q_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 (TPC-H Q13 shape): how many customers placed k orders, for every
    k including 0. Orders pre-aggregate to one slim (custkey, count) row
    BEFORE the outer join, so the join shuffles |customers| + |custkeys|
    rows, never raw orders; the second agg is tiny (distinct k values)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    per_cust = orders.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n"))
    return (
        cust.select("c_custkey")
        .join(per_cust, cust["c_custkey"] == per_cust["o_custkey"], "left")
        .select(F.coalesce(F.col("n"), F.lit(0).cast("long")).alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


_CUSTOMER_ORDER_DISTRIBUTION_ORACLE = """
SELECT c_count, count(*) AS custdist FROM (
  SELECT c_custkey, coalesce(oc.n, 0) AS c_count
  FROM customer
  LEFT JOIN (SELECT o_custkey, count(*) AS n FROM orders GROUP BY o_custkey) oc
    ON c_custkey = o_custkey
)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


def q_part_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7 (TPC-H Q17 shape): revenue lost to small orders — lineitems under
    20% of their part's average quantity, one brand. The correlated scalar
    subquery decorrelates to a per-part avg over the SAME brand-reduced
    fact slice, which is dim-sized and broadcast back: the fact table is
    touched once (brand dim broadcast-joined, filter pushed to scan) and
    never shuffled. avg(l_quantity) is an exact integer sum over an exact
    count, so the 0.2× threshold is bit-identical across engines."""
    li = load_table(spark, sf_dir, "lineitem")
    brand = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#23")
        .select("p_partkey")
    )
    brand_li = li.join(
        F.broadcast(brand), li["l_partkey"] == brand["p_partkey"]
    ).select("l_partkey", "l_quantity", "l_extendedprice")
    per_part = brand_li.groupBy(F.col("l_partkey").alias("avg_partkey")).agg(
        F.avg("l_quantity").alias("avg_qty")
    )
    return (
        brand_li.join(
            F.broadcast(per_part),
            brand_li["l_partkey"] == per_part["avg_partkey"],
        )
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg((F.round(F.sum("l_extendedprice"), 2) / 7).alias("avg_yearly"))
    )


_PART_SMALL_QTY_REVENUE_ORACLE = """
WITH brand_li AS (
  SELECT l_partkey, l_quantity, l_extendedprice
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand = 'Brand#23'
),
per_part AS (
  SELECT l_partkey AS avg_partkey, avg(l_quantity) AS avg_qty
  FROM brand_li GROUP BY l_partkey
)
SELECT round(sum(l_extendedprice), 2) / 7 AS avg_yearly
FROM brand_li JOIN per_part ON l_partkey = avg_partkey
WHERE l_quantity < 0.2 * avg_qty
"""


def q_sole_return_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8 (TPC-H Q21 shape): suppliers who were the ONLY supplier with a
    returned line in a multi-supplier order. Q21's EXISTS + NOT-EXISTS
    double self-join collapses into per-order aggregation: distinct
    supplier count, distinct returned-supplier count, and — because the
    filter pins n_returned = 1 — max(returned supplier) IS the culprit.
    Aggregation is two-level to keep distinct-counting expand-free:
    level 1 dedupes to (orderkey, suppkey, returned?) — map-side partial
    agg, ONE full shuffle — and level 2 reduces the already-slim pairs
    per order, so the twin COUNT(DISTINCT)s never trigger Catalyst's 3×
    Expand plan and the textbook three lineitem self-joins never happen."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    per_pair = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max((F.col("l_returnflag") == "R").cast("int")).alias("returned")
    )
    per_order = per_pair.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum("returned").alias("n_ret_supp"),
        F.max(
            F.when(F.col("returned") == 1, F.col("l_suppkey"))
        ).alias("ret_supp"),
    )
    return (
        per_order.filter((F.col("n_supp") > 1) & (F.col("n_ret_supp") == 1))
        .groupBy("ret_supp")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(F.broadcast(supp), F.col("ret_supp") == F.col("s_suppkey"))
        .select("s_name", "numwait")
        .orderBy(F.desc("numwait"), "s_name")
        .limit(10)
    )


_SOLE_RETURN_SUPPLIERS_ORACLE = """
WITH per_order AS (
  SELECT l_orderkey,
         count(DISTINCT l_suppkey) AS n_supp,
         count(DISTINCT CASE WHEN l_returnflag = 'R' THEN l_suppkey END)
           AS n_ret_supp,
         max(CASE WHEN l_returnflag = 'R' THEN l_suppkey END) AS ret_supp
  FROM lineitem GROUP BY l_orderkey
)
SELECT s_name, count(*) AS numwait
FROM per_order JOIN supplier ON ret_supp = s_suppkey
WHERE n_supp > 1 AND n_ret_supp = 1
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 10
"""


def q_rich_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9 (TPC-H Q22 shape): above-average-balance customers with no
    completed ('F') order, rolled up by market segment. The scalar
    subquery (global positive-balance average) is a 1-row broadcast; the
    NOT EXISTS is a left-anti join against the distinct F-order custkeys.
    The threshold compare runs in EXACT integer cents — `cents × count >
    sum_cents` — so no engine's summation order can flip a boundary row;
    the segment balance total likewise sums cents and divides once."""
    cust = load_table(spark, sf_dir, "customer").withColumn(
        "bal_cents", F.round(F.col("c_acctbal") * 100).cast("long")
    )
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        F.sum("bal_cents").alias("sum_cents"),
        F.count(F.lit(1)).alias("n_pos"),
    )
    f_cust = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_custkey")
        .distinct()
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("bal_cents") * F.col("n_pos") > F.col("sum_cents"))
        .join(f_cust, cust["c_custkey"] == f_cust["o_custkey"], "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            (F.sum("bal_cents") / 100.0).alias("totacctbal"),
        )
        .orderBy("c_mktsegment")
    )


_RICH_IDLE_CUSTOMERS_ORACLE = """
WITH cust AS (
  SELECT c_custkey, c_mktsegment, c_acctbal,
         CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
  FROM customer
),
avg_bal AS (
  SELECT sum(bal_cents) AS sum_cents, count(*) AS n_pos
  FROM cust WHERE c_acctbal > 0
)
SELECT c_mktsegment, count(*) AS numcust,
       sum(bal_cents) / 100.0 AS totacctbal
FROM cust, avg_bal
WHERE bal_cents * n_pos > sum_cents
  AND NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


def q_top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O7 (TPC-H Q15 shape): the supplier(s) whose one-quarter revenue
    equals the maximum over the revenue view. The view aggregates once
    (shipdate predicate pushed to the parquet scan), its 1-row max
    broadcasts back, and equality runs on the ROUNDED revenue both sides
    compute identically — never on a raw float sum. Ties keep every
    argmax row, matching the SQL semantics."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    supp = load_table(spark, sf_dir, "supplier")
    rev = li.groupBy("l_suppkey").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
        .alias("total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


_TOP_SUPPLIER_REVENUE_ORACLE = """
WITH rev AS (
  SELECT l_suppkey,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
ORDER BY s_suppkey
"""


def q_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A14 (TPC-H Q18 shape): orders whose total quantity exceeds 300,
    with their customer. The HAVING semi-join aggregates lineitem down to
    qualifying (orderkey, sum_qty) rows FIRST — the join input is a few
    rows, not the fact table — then orders join on the (already slim) key
    and the customer dim broadcasts. l_quantity is integer-valued, so the
    sum and threshold are exact in both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 300)
    )
    return (
        orders.join(F.broadcast(big), F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate",
            "o_totalprice", "sum_qty",
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


_LARGE_VOLUME_CUSTOMERS_ORACLE = """
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty
FROM orders
JOIN (
  SELECT l_orderkey, sum(l_quantity) AS sum_qty
  FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 300
) ON o_orderkey = l_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


def q_nation_trade_flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J10 (TPC-H Q7 shape): revenue between (supplier nation, customer
    nation) pairs — the SAME dim joined in two roles through aliased
    copies. Both role resolutions pre-reduce their fact-side key table
    (supplier→nation, customer→nation) to a 2-column broadcast, so the
    only real shuffle is the lineitem ⋈ orders fact-fact join plus the
    tiny pair aggregation."""
    nation = load_table(spark, sf_dir, "nation")
    supp_nation = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nation),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust_nation = (
        load_table(spark, sf_dir, "customer")
        .join(
            F.broadcast(nation),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust_nation), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp_nation), F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation")
        .agg(
            F.round(F.sum(revenue), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
        .orderBy(F.desc("revenue"), "supp_nation", "cust_nation")
        .limit(20)
    )


_NATION_TRADE_FLOWS_ORACLE = """
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_lineitems
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
WHERE sn.n_name <> cn.n_name
GROUP BY sn.n_name, cn.n_name
ORDER BY revenue DESC, supp_nation, cust_nation
LIMIT 20
"""


def q_order_price_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O8 windowed ranking buckets: per-market-segment order-value
    deciles (ntile) rolled up to (segment, decile) totals. The window's
    total order is made deterministic with the orderkey tiebreak, so
    ntile assignment — and therefore every downstream sum — is
    bit-identical across engines. Scale note: a per-segment ntile is a
    per-segment global sort (5 hot partitions here); at 100 TB the same
    report swaps to approx_percentile decile BOUNDARIES (t-digest,
    partial-aggregable, the A9 twin pattern) joined back as a broadcast —
    this exact form is the small-corpus oracle for that swap."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("o_totalprice"), F.col("o_orderkey")
    )
    return (
        orders.join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .withColumn("decile", F.ntile(10).over(w))
        .groupBy("c_mktsegment", "decile")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("decile_value"),
        )
        .orderBy("c_mktsegment", "decile")
    )


_ORDER_PRICE_DECILES_ORACLE = """
SELECT c_mktsegment, decile, count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS decile_value
FROM (
  SELECT c_mktsegment, o_totalprice,
         ntile(10) OVER (
           PARTITION BY c_mktsegment
           ORDER BY o_totalprice DESC, o_orderkey) AS decile
  FROM orders JOIN customer ON o_custkey = c_custkey
)
GROUP BY c_mktsegment, decile
ORDER BY c_mktsegment, decile
"""


def q_brand_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12 (TPC-H Q19 shape): disjunctive multi-attribute predicate over a
    fact ⋈ dim join — three OR'd (brand, size, quantity) branches. The
    brand disjunction's common implication (`p_brand IN (…)`) is filtered
    explicitly on the dim BEFORE the broadcast, so the hash relation
    carries only candidate parts; the per-branch residual evaluates
    post-join as one codegen'd boolean expression. The fact side never
    shuffles."""
    li = load_table(spark, sf_dir, "lineitem")
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_brand").isin("Brand#12", "Brand#23", "Brand#34"))
        .select("p_partkey", "p_brand", "p_size")
    )
    q = F.col("l_quantity")
    branch = (
        ((F.col("p_brand") == "Brand#12") & (F.col("p_size") <= 15) & (q <= 15))
        | (
            (F.col("p_brand") == "Brand#23")
            & (F.col("p_size") <= 25)
            & q.between(10, 25)
        )
        | ((F.col("p_brand") == "Brand#34") & (F.col("p_size") <= 35) & (q >= 25))
    )
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .filter(branch)
        .agg(
            F.count(F.lit(1)).alias("n_lineitems"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
    )


_BRAND_PROMO_REVENUE_ORACLE = """
SELECT count(*) AS n_lineitems,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size <= 15 AND l_quantity <= 15)
   OR (p_brand = 'Brand#23' AND p_size <= 25 AND l_quantity BETWEEN 10 AND 25)
   OR (p_brand = 'Brand#34' AND p_size <= 35 AND l_quantity >= 25)
"""


# ---------------------------------------------------------------------------
# Remaining TPC-H query shapes (Q2/Q4/Q8/Q9/Q10/Q11/Q12/Q16/Q20) — with these
# the registry covers all 22 canonical TPC-H patterns, adapted to the driver's
# schema (no partsupp table: the distinct (l_partkey, l_suppkey) pairs in
# lineitem stand in for the part-supplier catalog, and p_retailprice for
# supplycost). The point is the operator shape — correlated min subquery,
# EXISTS / NOT EXISTS, scalar-subquery HAVING, conditional aggregation,
# grouped distinct counts with exclusion lists, nested semi-joins — each
# hand-decorrelated into the join/agg form a 1000-executor plan wants.
# Money math runs in exact integer cents wherever a comparison could sit on
# a float boundary (see q_rich_idle_customers), so DuckDB and Spark agree
# bit-for-bit.
# ---------------------------------------------------------------------------


def q_min_cost_part_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J11 (TPC-H Q2 shape): for each STANDARD small part, the EUROPE
    supplier quoting the lowest unit price. The correlated MIN subquery
    decorrelates into a window rank: distinct (part, supplier) pairs carry
    an EXACT integer unit price (cents div units — both sides integral,
    so no engine-dependent float division), and row_number over
    (part ORDER BY price, suppkey) picks one deterministic winner. The
    part and supplier dims are broadcast; only the slim pair set shuffles
    for the window. At 100 TB the pair set is |catalog|, not |fact|."""
    li = load_table(spark, sf_dir, "lineitem")
    part = (
        load_table(spark, sf_dir, "part")
        .filter((F.col("p_type") == "STANDARD") & (F.col("p_size") <= 10))
        .select("p_partkey", "p_name")
    )
    eu_supp = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                load_table(spark, sf_dir, "nation").join(
                    F.broadcast(
                        load_table(spark, sf_dir, "region").filter(
                            F.col("r_name") == "EUROPE"
                        )
                    ),
                    F.col("n_regionkey") == F.col("r_regionkey"),
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name")
    )
    pairs = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(eu_supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("p_partkey", "p_name", "s_suppkey", "s_name")
        .agg(
            (
                F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
                / F.sum(F.col("l_quantity").cast("long"))
            ).alias("_unit")
        )
        .withColumn(
            "unit_price_cents",
            F.floor(F.col("_unit")).cast("long"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("p_partkey").orderBy("unit_price_cents", "s_suppkey")
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("p_partkey", "p_name", "s_name", "unit_price_cents")
        .orderBy("p_partkey")
        .limit(100)
    )


_MIN_COST_PART_SUPPLIER_ORACLE = """
WITH pairs AS (
  SELECT p_partkey, p_name, s_suppkey, s_name,
         CAST(floor(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                    / sum(CAST(l_quantity AS BIGINT))) AS BIGINT)
           AS unit_price_cents
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE p_type = 'STANDARD' AND p_size <= 10 AND r_name = 'EUROPE'
  GROUP BY p_partkey, p_name, s_suppkey, s_name
)
SELECT p_partkey, p_name, s_name, unit_price_cents FROM (
  SELECT *, row_number() OVER (
    PARTITION BY p_partkey ORDER BY unit_price_cents, s_suppkey) AS rn
  FROM pairs
)
WHERE rn = 1
ORDER BY p_partkey
LIMIT 100
"""


def q_late_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J12 (TPC-H Q4 shape): order-priority checking — count H1-1997
    orders with at least one returned line. The EXISTS subquery is a
    LEFT SEMI join against the distinct returned orderkeys; the date
    filter pushes into the orders parquet scan, the returnflag filter
    into the lineitem scan, and the semi join's build side carries only
    orderkeys (no payload). Output is 5 rows."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01")
        & (F.col("o_orderdate") < "1997-07-01")
    )
    returned = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey")
    )
    return (
        orders.join(
            returned, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi"
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


_LATE_ORDER_PRIORITY_ORACLE = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate < TIMESTAMP '1997-07-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q_nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J13 (TPC-H Q8 shape): NATION_5's yearly share of the ASIA market.
    One pass over the fact: lineitem joins broadcast orders-slice? No —
    orders is fact-sized, so lineitem ⋈ orders shuffles on orderkey once;
    every dim (customer-nation-region gate, supplier nation) broadcasts.
    Revenue accumulates in EXACT integer 1e-4-dollar units (ext_cents ×
    (100 − disc_pct) — round(sum(double)) is not parity-safe, see
    q_part_type_profit); the share is then one IEEE quotient of two
    engine-identical doubles."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.year("o_orderdate").alias("o_year")
    )
    nation = load_table(spark, sf_dir, "nation")
    asia_cust = (
        load_table(spark, sf_dir, "customer")
        .join(
            F.broadcast(
                nation.join(
                    F.broadcast(
                        load_table(spark, sf_dir, "region").filter(
                            F.col("r_name") == "ASIA"
                        )
                    ),
                    F.col("n_regionkey") == F.col("r_regionkey"),
                )
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey")
    )
    supp_nation = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    rev_e4 = F.round(F.col("l_extendedprice") * 100).cast("long") * (
        100 - F.round(F.col("l_discount") * 100).cast("long")
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(asia_cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp_nation), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("o_year")
        .agg(
            (
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_5", rev_e4)
                )
                / 10000.0
            ).alias("nation_rev"),
            (F.sum(rev_e4) / 10000.0).alias("total_rev"),
        )
        .withColumn("mkt_share", F.col("nation_rev") / F.col("total_rev"))
        .select("o_year", "nation_rev", "total_rev", "mkt_share")
        .orderBy("o_year")
    )


_NATION_MARKET_SHARE_ORACLE = """
SELECT o_year,
       nation_rev,
       total_rev,
       nation_rev / total_rev AS mkt_share
FROM (
  SELECT year(o_orderdate) AS o_year,
         sum(CASE WHEN sn.n_name = 'NATION_5'
                  THEN CAST(round(l_extendedprice * 100) AS BIGINT)
                       * (100 - CAST(round(l_discount * 100) AS BIGINT))
             END) / 10000.0 AS nation_rev,
         sum(CAST(round(l_extendedprice * 100) AS BIGINT)
             * (100 - CAST(round(l_discount * 100) AS BIGINT))) / 10000.0
           AS total_rev
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation cn ON c_nationkey = cn.n_nationkey
  JOIN region ON cn.n_regionkey = r_regionkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation sn ON s_nationkey = sn.n_nationkey
  WHERE r_name = 'ASIA'
  GROUP BY year(o_orderdate)
)
ORDER BY o_year
"""


def q_part_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A19 (TPC-H Q9 shape): profit on 'ring' parts by supplier nation and
    order year. supplycost has no table here, so cost is modeled as half
    the part's retail price per unit (p_retailprice stands in for
    ps_supplycost, SURVEY §2.14). Parts filter on a contains() predicate
    (pushed to the dim scan, then broadcast); lineitem ⋈ orders is the
    only fact shuffle. Profit accumulates in EXACT integer 1e-4-dollar
    units — ext_cents × (100 − disc_pct) − 50 × retail_cents × qty, every
    factor a short-decimal long — because round(sum(double)) flips on
    half boundaries between engines (caught at sf0.001: 309209.465 went
    .47/.46); the single final division is engine-identical. At extreme
    corpus scale the e4 sum brushes int64 — swap to DECIMAL(38,4), same
    plan."""
    li = load_table(spark, sf_dir, "lineitem")
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").contains("ring"))
        .select("p_partkey", "p_retailprice")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").alias("o_year")
    )
    supp_nation = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(load_table(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    ext_c = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc_pct = F.round(F.col("l_discount") * 100).cast("long")
    retail_c = F.round(F.col("p_retailprice") * 100).cast("long")
    qty = F.col("l_quantity").cast("long")
    amount_e4 = ext_c * (100 - disc_pct) - 50 * retail_c * qty
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp_nation), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("nation", "o_year")
        .agg((F.sum(amount_e4) / 10000.0).alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


_PART_TYPE_PROFIT_ORACLE = """
SELECT n_name AS nation, year(o_orderdate) AS o_year,
       sum(CAST(round(l_extendedprice * 100) AS BIGINT)
             * (100 - CAST(round(l_discount * 100) AS BIGINT))
           - 50 * CAST(round(p_retailprice * 100) AS BIGINT)
             * CAST(l_quantity AS BIGINT)) / 10000.0 AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON l_orderkey = o_orderkey
WHERE p_name LIKE '%ring%'
GROUP BY n_name, year(o_orderdate)
ORDER BY nation, o_year DESC
"""


def q_returned_item_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J14 (TPC-H Q10 shape): the 20 customers who returned the most
    revenue in 1997 Q1. Date filter pushes to the orders scan, returnflag
    to the lineitem scan; the filtered orders slice is quarter-sized so
    it broadcasts to the fact, and the customer/nation dims broadcast to
    the slim aggregate. Revenue sums exact 1e-4-dollar integers (see
    q_part_type_profit). Deterministic top-k: revenue DESC then custkey."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= "1997-01-01")
            & (F.col("o_orderdate") < "1997-04-01")
        )
        .select("o_orderkey", "o_custkey")
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .join(
            F.broadcast(load_table(spark, sf_dir, "nation")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey", "c_name", "c_acctbal", "n_name")
    )
    rev_e4 = F.round(F.col("l_extendedprice") * 100).cast("long") * (
        100 - F.round(F.col("l_discount") * 100).cast("long")
    )
    return (
        li.join(F.broadcast(orders), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_custkey")
        .agg((F.sum(rev_e4) / 10000.0).alias("revenue"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


_RETURNED_ITEM_CUSTOMERS_ORACLE = """
SELECT c_custkey, c_name, revenue, c_acctbal, n_name
FROM (
  SELECT o_custkey,
         sum(CAST(round(l_extendedprice * 100) AS BIGINT)
             * (100 - CAST(round(l_discount * 100) AS BIGINT))) / 10000.0
           AS revenue
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_returnflag = 'R'
    AND o_orderdate >= TIMESTAMP '1997-01-01'
    AND o_orderdate < TIMESTAMP '1997-04-01'
  GROUP BY o_custkey
)
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def q_important_part_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A16 (TPC-H Q11 shape): parts whose traded value through NATION_3
    suppliers exceeds 0.1% of the nation's total. The scalar subquery in
    HAVING becomes a 1-row broadcast crossJoin, and the threshold compare
    runs entirely in integer cents — ``part_cents * 1000 > total_cents``
    — so no summation order can flip a boundary part. The per-part
    aggregate is localCheckpointed (it is catalog-sized): Spark would
    otherwise duplicate the lazy DAG and scan the fact TWICE, once for
    the rows and once for the scalar total (the doc_dup_clusters
    materialization rule); with the checkpoint there is exactly one fact
    pass and one shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    n3_supp = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                load_table(spark, sf_dir, "nation").filter(
                    F.col("n_name") == "NATION_3"
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    per_part = (
        li.join(F.broadcast(n3_supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * 100).cast("long")
            ).alias("value_cents")
        )
        .localCheckpoint(eager=True)
    )
    total = per_part.agg(F.sum("value_cents").alias("total_cents"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("value_cents") * 1000 > F.col("total_cents"))
        .select(
            "l_partkey",
            (F.col("value_cents") / 100.0).alias("value"),
        )
        .orderBy(F.desc("value"), "l_partkey")
    )


_IMPORTANT_PART_VALUES_ORACLE = """
WITH per_part AS (
  SELECT l_partkey,
         sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS value_cents
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_3'
  GROUP BY l_partkey
),
total AS (SELECT sum(value_cents) AS total_cents FROM per_part)
SELECT l_partkey, value_cents / 100.0 AS value
FROM per_part, total
WHERE value_cents * 1000 > total_cents
ORDER BY value DESC, l_partkey
"""


def q_linestatus_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A17 (TPC-H Q12 shape): conditional aggregation — per linestatus
    (shipmode stand-in), how many 1997-shipped lines belong to
    critical-priority vs other orders. The CASE branches fold into two
    codegen'd SUMs over one fact ⋈ fact join (lineitem ⋈ orders on
    orderkey, the one unavoidable shuffle); the shipdate filter pushes
    into the lineitem scan. Output is 2 rows."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


_LINESTATUS_PRIORITY_COUNTS_ORACLE = """
SELECT l_linestatus,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY l_linestatus
ORDER BY l_linestatus
"""


def q_supplier_part_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A18 (TPC-H Q16 shape): supplier diversity per (brand, type, size),
    excluding one brand and any supplier with ≥ 205 returned lines (the
    above-median complainer tail in this generator's ~200-per-supplier
    return distribution, so the anti-join excludes SOME but not ALL — the
    customer-complaint NOT IN, rebuilt as a left-anti join against an
    aggregated exclusion list). The distinct count runs on pairs already
    deduped by a partial-aggregable groupBy — no Expand plan — and the
    exclusion list is aggregate-sized, so it broadcasts."""
    li = load_table(spark, sf_dir, "lineitem")
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_brand") != "Brand#5")
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    complainers = (
        li.filter(F.col("l_returnflag") == "R")
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("n_ret"))
        .filter(F.col("n_ret") >= 205)
        .select(F.col("l_suppkey").alias("bad_suppkey"))
    )
    pairs = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(
            F.broadcast(complainers),
            F.col("l_suppkey") == F.col("bad_suppkey"),
            "left_anti",
        )
        .select("p_brand", "p_type", "p_size", "l_suppkey")
        .distinct()
    )
    return (
        pairs.groupBy("p_brand", "p_type", "p_size")
        .agg(F.count(F.lit(1)).alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
        .limit(50)
    )


_SUPPLIER_PART_DIVERSITY_ORACLE = """
WITH complainers AS (
  SELECT l_suppkey FROM lineitem
  WHERE l_returnflag = 'R'
  GROUP BY l_suppkey HAVING count(*) >= 205
)
SELECT p_brand, p_type, p_size,
       count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#5'
  AND l_suppkey NOT IN (SELECT l_suppkey FROM complainers)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
LIMIT 50
"""


def q_promo_part_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J15 (TPC-H Q20 shape): NATION_1 suppliers who shipped, in 1998,
    more than 30% of some red part's all-time volume. Q20's nested
    IN-subqueries become one aggregation over the red-part slice (per
    (supplier, part): 1998 units vs all-time units — quantities are
    integral, so the 30% threshold compares ``units98 * 10 > 3 * total``
    in exact integers) followed by a semi-join into the nation-filtered
    supplier dim. The fact is touched once; both dims broadcast."""
    li = load_table(spark, sf_dir, "lineitem")
    red_parts = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").startswith("red"))
        .select("p_partkey")
    )
    n1_supp = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                load_table(spark, sf_dir, "nation").filter(
                    F.col("n_name") == "NATION_1"
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name")
    )
    units = F.col("l_quantity").cast("long")
    in_98 = (F.col("l_shipdate") >= "1998-01-01") & (
        F.col("l_shipdate") < "1999-01-01"
    )
    heavy = (
        li.join(F.broadcast(red_parts), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(
            F.sum(F.when(in_98, units).otherwise(F.lit(0))).alias("units98"),
            F.sum(units).alias("units_all"),
        )
        .filter(F.col("units98") * 10 > 3 * F.col("units_all"))
        .select("l_suppkey")
    )
    return (
        n1_supp.join(
            heavy, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi"
        )
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


_PROMO_PART_SHIPPERS_ORACLE = """
WITH heavy AS (
  SELECT l_suppkey
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE 'red%'
  GROUP BY l_suppkey, l_partkey
  HAVING sum(CASE WHEN l_shipdate >= TIMESTAMP '1998-01-01'
                   AND l_shipdate < TIMESTAMP '1999-01-01'
                  THEN CAST(l_quantity AS BIGINT) ELSE 0 END) * 10
         > 3 * sum(CAST(l_quantity AS BIGINT))
)
SELECT s_suppkey, s_name
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_1'
  AND s_suppkey IN (SELECT l_suppkey FROM heavy)
ORDER BY s_suppkey
"""


def q_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11 stream-static enrichment join: the events stream picks up a
    batch-computed per-type profile (sum of exact integer cents + count)
    via a broadcast join — stateless, no watermark — then counts, per
    type, the streamed events whose value exceeds the type average. The
    threshold compares `cents × n > sum_cents` in exact integers (J9's
    rule), so batch and stream land on identical rows and the batch SQL
    is a true oracle for the streaming plan."""
    from floatchat_datapipeline_spark.streaming.run import materialize
    from floatchat_datapipeline_spark.streaming.sources import stream_table
    from floatchat_datapipeline_spark.streaming.windows import enrich_stream

    cents = F.round(F.col("value") * 100).cast("long")
    dim = (
        load_table(spark, sf_dir, "events")
        .select(F.col("event_type").alias("et"), cents.alias("cents"))
        .groupBy("et")
        .agg(
            F.sum("cents").alias("sum_cents"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    stream = stream_table(spark, sf_dir, "events").withColumn("cents", cents)
    enriched = enrich_stream(stream, dim, "event_type", "et")
    above = (
        enriched.filter(F.col("cents") * F.col("n") > F.col("sum_cents"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_above_avg"))
    )
    return materialize(above, "q_stream_enrich").orderBy("event_type")


_STREAM_ENRICH_ORACLE = """
WITH ev AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents FROM events
),
dim AS (
  SELECT event_type AS et, sum(cents) AS sum_cents, count(*) AS n
  FROM ev GROUP BY event_type
)
SELECT event_type, count(*) AS n_above_avg
FROM ev JOIN dim ON event_type = et
WHERE cents * n > sum_cents
GROUP BY event_type
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# Documents: text analysis (north-star LLM-pipeline operators)
# ---------------------------------------------------------------------------

# DuckDB rendering of the 3-word-shingle set (list comprehension); the
# Spark twin is functions/textstats.word_shingles.
_SHINGLES_3_SQL = """
list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
               for i in generate_series(1, len(t)-2)])
"""
_MD5_LONG_SQL = "CAST('0x' || substr(md5({x}), 1, 15) AS BIGINT)"


def q_doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from floatchat_datapipeline_spark.functions import textstats as T

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        "lang",
        "source",
        F.length("text").cast("long").alias("n_chars_calc"),
        T.token_count("text").cast("long").alias("n_tokens"),
        T.distinct_token_count("text").cast("long").alias("n_distinct_tokens"),
        T.avg_token_len("text").alias("avg_token_len"),
        T.type_token_ratio("text").alias("type_token_ratio"),
    )


_DOC_TOKEN_STATS_ORACLE = """
SELECT doc_id, lang, source,
  CAST(length(text) AS BIGINT) AS n_chars_calc,
  CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tokens,
  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct_tokens,
  round(length(replace(text, ' ', ''))::DOUBLE
        / (length(text) - length(replace(text, ' ', '')) + 1), 4) AS avg_token_len,
  round(len(list_distinct(string_split(text, ' ')))::DOUBLE
        / (length(text) - length(replace(text, ' ', '')) + 1), 4) AS type_token_ratio
FROM documents
"""


def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from floatchat_datapipeline_spark.functions import textstats as T

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        T.stopword_ratio("text").alias("stopword_ratio"),
        T.quality_score("text").alias("quality_score"),
    )


_DOC_QUALITY_ORACLE = """
WITH base AS (
  SELECT doc_id,
    string_split(text, ' ') AS toks,
    CAST(length(text) - length(replace(text, ' ', '')) + 1 AS INT) AS n
  FROM documents
), scored AS (
  SELECT doc_id, n,
    round(len(list_filter(toks, x -> x IN ('a','the','of','and','is')))::DOUBLE
          / n, 4) AS stopword_ratio,
    round(len(list_distinct(toks))::DOUBLE / n, 4) AS ttr
  FROM base
)
SELECT doc_id, stopword_ratio,
  round((least(n / 50e0, 1e0)
         + ttr
         + CASE WHEN stopword_ratio > 0.01 AND stopword_ratio < 0.5
                THEN 1e0 ELSE 0.5e0 END) / 3e0, 4) AS quality_score
FROM scored
"""


def q_doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from floatchat_datapipeline_spark.functions import textstats as T

    docs = load_table(spark, sf_dir, "documents")
    pred = docs.select(
        "doc_id", "lang", T.lang_id("text").alias("predicted_lang")
    )
    return pred.groupBy("lang", "predicted_lang").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


_DOC_LANG_ID_ORACLE = """
WITH scores AS (
  SELECT doc_id, lang,
    len(list_filter(toks, x -> x IN ('the','a','of','and','is'))) AS s_en,
    len(list_filter(toks, x -> x IN ('la','el','de','que','y'))) AS s_es,
    len(list_filter(toks, x -> x IN ('der','die','das','und','ist'))) AS s_de,
    len(list_filter(toks, x -> x IN ('le','la','les','et','est'))) AS s_fr,
    len(list_filter(toks, x -> x IN ('de','le','shi','he','zai'))) AS s_zh
  FROM (SELECT doc_id, lang, string_split(text, ' ') toks FROM documents)
), pred AS (
  SELECT doc_id, lang,
    CASE WHEN greatest(s_en, s_es, s_de, s_fr, s_zh) = 0 THEN 'unknown'
         WHEN s_en = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'en'
         WHEN s_es = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'es'
         WHEN s_de = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'de'
         WHEN s_fr = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'fr'
         ELSE 'zh' END AS predicted_lang
  FROM scores
)
SELECT lang, predicted_lang, count(*) AS n_docs
FROM pred GROUP BY lang, predicted_lang
"""


def q_doc_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from floatchat_datapipeline_spark.operators.dedup import exact_dedup_groups

    return exact_dedup_groups(load_table(spark, sf_dir, "documents"))


_DOC_EXACT_DEDUP_ORACLE = """
SELECT md5(lower(trim(text))) AS content_hash,
       min(doc_id) AS keeper_id, count(*) AS n_dups
FROM documents GROUP BY 1
"""


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from floatchat_datapipeline_spark.functions import textstats as T
    from floatchat_datapipeline_spark.plans.scale import rebalance

    docs = rebalance(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    return docs.select("doc_id", T.fingerprint("text").alias("fingerprint"))


_DOC_FINGERPRINT_ORACLE = f"""
SELECT doc_id,
  list_aggregate(
    list_transform(
      [t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4]
       for i in generate_series(1, len(t)-4)],
      s -> {_MD5_LONG_SQL.format(x='s')}),
    'min') AS fingerprint
FROM (SELECT doc_id, string_split(text, ' ') t FROM documents)
"""


def q_doc_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L15 — true winnowing fingerprints (Schleimer et al., SIGMOD 2003,
    the MOSS algorithm): per document, the minimum md5 of each window of
    w=4 consecutive 5-token shingles, deduplicated. Guarantees any shared
    run of ≥ 8 tokens surfaces a shared fingerprint while keeping ~2/(w+1)
    of the hashes — the local-sampling property the single global-min
    `doc_fingerprint` lacks. Entirely array-domain (functions/textstats.
    winnow): map-only, zero shuffles, the explode is narrow."""
    from floatchat_datapipeline_spark.functions import textstats as T
    from floatchat_datapipeline_spark.plans.scale import rebalance

    docs = rebalance(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    return docs.select(
        "doc_id", F.explode(T.winnow("text", k=5, w=4)).alias("fp")
    )


_DOC_WINNOW_ORACLE = f"""
SELECT doc_id,
       unnest(list_distinct([
         list_aggregate(hs[i:i+3], 'min')
         for i in generate_series(1, len(hs) - 3)
       ])) AS fp
FROM (
  SELECT doc_id,
         list_transform(
           [t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
              || ' ' || t[i+4]
            for i in generate_series(1, len(t) - 4)],
           s -> {_MD5_LONG_SQL.format(x='s')}) AS hs
  FROM (SELECT doc_id, string_split(text, ' ') t FROM documents)
)
"""


def q_doc_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L16 — MOSS match candidates: pairs sharing ≥2 winnowed
    fingerprints (operators/dedup.winnow_pairs; posting lists capped at
    doc-frequency 32 before materialization, the n-gram index's skew
    rule)."""
    from floatchat_datapipeline_spark.operators.dedup import winnow_pairs

    return winnow_pairs(load_table(spark, sf_dir, "documents"))


_DOC_WINNOW_PAIRS_ORACLE = f"""
WITH fps AS (
  SELECT doc_id,
         unnest(list_distinct([
           list_aggregate(hs[i:i+3], 'min')
           for i in generate_series(1, len(hs) - 3)
         ])) AS fp
  FROM (
    SELECT doc_id,
           list_transform(
             [t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
                || ' ' || t[i+4]
              for i in generate_series(1, len(t) - 4)],
             s -> {_MD5_LONG_SQL.format(x='s')}) AS hs
    FROM (SELECT doc_id, string_split(text, ' ') t FROM documents)
  )
),
ok AS (
  SELECT fp FROM fps GROUP BY fp HAVING count(*) BETWEEN 2 AND 32
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
FROM fps a
JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
WHERE a.fp IN (SELECT fp FROM ok)
GROUP BY 1, 2
HAVING count(*) >= 2
"""


def q_events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS6 — session path mining: the 15 most common event-type journeys
    across 30-minute-gap sessions, paths capped at 20 events
    (operators/windows.session_paths; deterministic via array_sort on
    (ts, event_id) before the join — collect_list alone is
    partition-order dependent)."""
    from floatchat_datapipeline_spark.operators.windows import session_paths

    return session_paths(load_table(spark, sf_dir, "events"))


_EVENTS_TOP_PATHS_ORACLE = """
WITH flagged AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN epoch(ts)::BIGINT
                   - lag(epoch(ts)::BIGINT) OVER w > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT *, CAST(sum(new_session) OVER w + 1 AS BIGINT) AS session_seq
  FROM flagged
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), paths AS (
  SELECT array_to_string(
           list_slice(list(event_type ORDER BY ts, event_id), 1, 20),
           '>') AS path
  FROM numbered GROUP BY user_id, session_seq
)
SELECT path, count(*) AS n_sessions
FROM paths GROUP BY path
ORDER BY n_sessions DESC, path
LIMIT 15
"""


def q_events_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A23 — association-rule mining over session baskets: event-type
    pair support and lift (operators/windows.session_cooccurrence).
    Items dedupe to (session, type) before pairing, so fan-out is per
    basket over distinct types, never per raw event."""
    from floatchat_datapipeline_spark.operators.windows import (
        session_cooccurrence,
    )

    return session_cooccurrence(load_table(spark, sf_dir, "events"))


_EVENTS_COOCCURRENCE_ORACLE = """
WITH flagged AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN epoch(ts)::BIGINT
                   - lag(epoch(ts)::BIGINT) OVER w > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT *, CAST(sum(new_session) OVER w + 1 AS BIGINT) AS session_seq
  FROM flagged
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), items AS (
  SELECT DISTINCT user_id, session_seq, event_type FROM numbered
), nb AS (
  SELECT count(*) AS n_baskets
  FROM (SELECT DISTINCT user_id, session_seq FROM items)
), singles AS (
  SELECT event_type, count(*) AS n FROM items GROUP BY event_type
), pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         count(*) AS n_ab
  FROM items a
  JOIN items b ON a.user_id = b.user_id
             AND a.session_seq = b.session_seq
             AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT type_a, type_b, n_ab,
       CAST(n_ab * n_baskets AS DOUBLE) / (sa.n * sb.n) AS lift
FROM pairs, nb
JOIN singles sa ON type_a = sa.event_type
JOIN singles sb ON type_b = sb.event_type
ORDER BY lift DESC, type_a, type_b
LIMIT 20
"""


def q_events_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D6 — burst suppression / debounce: keep an event only if it is the
    user's first or arrives > 30 min after the user's previous RAW event
    — a burst head, the same boundary rule as sessionize applied as an
    event-level filter (the per-session representative without the agg).
    One lag window on the user partitioning, epoch math in exact
    microseconds. A strict rate-limit (gap from last KEPT event) is
    inherently iterative — per-key applyInPandas territory — while this
    raw-gap form stays a pure window expression."""
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    keep = F.lag("ts").over(w).isNull() | (
        F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
        > 1_800_000_000
    )
    return (
        ev.withColumn("_keep", keep)
        .filter(F.col("_keep"))
        .select("event_id", "ts", "user_id", "event_type", "value")
    )


_EVENTS_DEBOUNCE_ORACLE = """
SELECT event_id, ts, user_id, event_type, value FROM (
  SELECT *, lag(ts) OVER w AS prev_ts
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
WHERE prev_ts IS NULL
   OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
"""


def q_events_rate_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D7 — strict per-user rate limiting (keep only events > 30 min
    after the last KEPT event — operators/windows.rate_limit). The
    decision recurrence has no window form (applyInPandas per key); the
    oracle expresses it as a recursive CTE, so the iterative operator is
    value-checked."""
    from floatchat_datapipeline_spark.operators.windows import rate_limit

    return rate_limit(load_table(spark, sf_dir, "events"))


_EVENTS_RATE_LIMIT_ORACLE = """
WITH RECURSIVE ordered AS (
  SELECT user_id, ts, event_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS rn
  FROM events
),
keep AS (
  SELECT user_id, ts, event_id, rn FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.user_id, o.ts, o.event_id, o.rn
  FROM keep k
  JOIN ordered o
    ON o.user_id = k.user_id
   AND o.rn = (SELECT min(x.rn) FROM ordered x
               WHERE x.user_id = k.user_id AND x.rn > k.rn
                 AND epoch_us(x.ts) - epoch_us(k.ts) > 1800000000)
)
SELECT user_id, event_id, ts FROM keep
"""


def q_events_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS7 — OHLC downsampling (candlestick rollup): per (event_type,
    hour), the open/high/low/close of `value`. Open/close are min_by/
    max_by — the ARGMIN/ARGMAX form that makes first/last deterministic
    without a window pass, so the whole rollup is ONE partial-aggregable
    groupBy (min_by's partial state is a single (key, value) pair, vs. a
    row_number window that would sort every partition). The order key is
    a zero-padded `(epoch_us, event_id)` string — total under ts
    collisions, identically ordered in both engines (DuckDB's arg_min
    rejects struct keys). The time-series decimation every monitoring
    store runs at ingest."""
    ev = load_table(spark, sf_dir, "events")
    key = F.concat(
        F.lpad(F.unix_micros("ts").cast("string"), 20, "0"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    return (
        ev.groupBy(
            F.date_trunc("hour", "ts").alias("hour"),
            "event_type",
        )
        .agg(
            F.min_by("value", key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", key).alias("close"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("hour", "event_type")
    )


_EVENTS_OHLC_ORACLE = """
SELECT date_trunc('hour', ts) AS hour, event_type,
       arg_min(value, k) AS open,
       max(value) AS high,
       min(value) AS low,
       arg_max(value, k) AS close,
       count(*) AS n_events
FROM (
  SELECT *, lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
            || lpad(CAST(event_id AS VARCHAR), 12, '0') AS k
  FROM events
)
GROUP BY date_trunc('hour', ts), event_type
ORDER BY hour, event_type
"""


def q_events_ewma_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS8 — EWMA control-chart anomalies per user (alpha=0.5,
    threshold=150): flag events deviating > threshold from the
    pre-observation EWMA (operators/timeseries.ewma_anomalies). The
    continuous-state recurrence pairs with D7's boolean-state rate
    limiter; the oracle replays it as a recursive CTE. alpha=0.5 keeps
    every multiply exact so prev_ewma is bit-identical cross-engine."""
    from floatchat_datapipeline_spark.operators.timeseries import (
        ewma_anomalies,
    )

    return ewma_anomalies(load_table(spark, sf_dir, "events"))


_EVENTS_EWMA_ANOMALY_ORACLE = """
WITH RECURSIVE ordered AS (
  SELECT user_id, event_id, ts, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS rn
  FROM events
),
state AS (
  SELECT user_id, event_id, ts, value, rn,
         value AS ewma, CAST(NULL AS DOUBLE) AS prev_ewma
  FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.user_id, o.event_id, o.ts, o.value, o.rn,
         0.5 * o.value + 0.5 * s.ewma AS ewma,
         s.ewma AS prev_ewma
  FROM state s
  JOIN ordered o ON o.user_id = s.user_id AND o.rn = s.rn + 1
)
SELECT user_id, event_id, ts, value, prev_ewma
FROM state
WHERE prev_ewma IS NOT NULL AND abs(value - prev_ewma) > 150.0
"""


def q_events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A20 — robust outlier detection per event_type: modified z-score
    over median/MAD (Iglewicz & Hoadley 1993), the rule a training-data
    pipeline uses to quarantine anomalous numeric features because mean/
    stddev are themselves corrupted by the outliers being hunted.

    Two sequential exact medians (value, then |value − median|) via
    `percentile` — R-7 interpolation, bit-identical to DuckDB
    quantile_cont — then one counting pass against the broadcast (median,
    MAD) dim. The outlier test |x − med| × 6745 > 35000 × MAD is the
    0.6745·dev/MAD > 3.5 rule cleared of division: pure IEEE products of
    engine-identical operands, no rounding anywhere. At 100 TB each
    median swaps to approx_percentile (t-digest, partial-aggregable, A9's
    documented seam) and the three passes read one pruned 2-column
    projection."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5e0)").alias("med_value")
    )
    dev = ev.join(F.broadcast(med), "event_type")
    stats = dev.groupBy("event_type", "med_value").agg(
        F.expr("percentile(abs(value - med_value), 0.5e0)").alias("mad_value")
    )
    return (
        ev.join(F.broadcast(stats), "event_type")
        .groupBy("event_type", "med_value", "mad_value")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.when(
                    F.abs(F.col("value") - F.col("med_value")) * 6745
                    > 35000 * F.col("mad_value"),
                    1,
                ).otherwise(0)
            ).alias("n_outliers"),
        )
        .orderBy("event_type")
    )


_EVENTS_MAD_OUTLIERS_ORACLE = """
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5e0) AS med_value
  FROM events GROUP BY event_type
),
stats AS (
  SELECT e.event_type, med_value,
         quantile_cont(abs(value - med_value), 0.5e0) AS mad_value
  FROM events e JOIN med USING (event_type)
  GROUP BY e.event_type, med_value
)
SELECT event_type, med_value, mad_value,
       count(*) AS n_events,
       CAST(sum(CASE WHEN abs(value - med_value) * 6745
                          > 35000 * mad_value
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM events JOIN stats USING (event_type)
GROUP BY event_type, med_value, mad_value
ORDER BY event_type
"""


def q_events_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K11 — SCD2 history compaction of the events change log: validity
    intervals per (user_id, event_type) value run, current row open-ended
    (operators/windows.scd2_compact). One shuffle: both windows share the
    key partitioning. The K1/D1 upsert keeps only the latest row; this
    keeps the lineage a warehouse dimension needs."""
    from floatchat_datapipeline_spark.operators.windows import scd2_compact

    return scd2_compact(load_table(spark, sf_dir, "events"))


_EVENTS_SCD2_ORACLE = """
WITH ordered AS (
  SELECT user_id, event_type, value, ts, event_id,
         lag(value) OVER w AS prev,
         row_number() OVER w AS rn
  FROM events
  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
),
changes AS (
  SELECT * FROM ordered WHERE rn = 1 OR value IS DISTINCT FROM prev
)
SELECT user_id, event_type, value, ts AS valid_from,
       lead(ts) OVER (
         PARTITION BY user_id, event_type ORDER BY ts, event_id
       ) AS valid_to
FROM changes
"""


def q_emb_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V12 — MMR-diversified top-10 for 5 probe queries (λ=0.7) over
    25-candidate sets from the brute-force cosine path. Candidate
    generation is the scalable retrieval stage; the greedy rerank is
    per-query applyInPandas (iterative in k, parallel across queries —
    see operators/similarity.mmr_rerank). The greedy argmax with a
    running max-penalty has no window-function form, but like the
    rate-limit/EWMA recurrences it IS a recursion: the oracle carries
    the selected set as a LIST column through a recursive CTE and picks
    each step's argmax with a LATERAL top-1. Decisions on both sides
    run on 1e-6-rounded cosines (repo parity convention), so the value
    hash is exact; tests/test_embeddings.py additionally replays the
    selection in numpy."""
    from floatchat_datapipeline_spark.operators.similarity import mmr_rerank

    return mmr_rerank(load_table(spark, sf_dir, "embeddings"))


_EMB_MMR_RERANK_ORACLE = """
WITH RECURSIVE
base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
q AS (
  SELECT vec_id AS query_id, v AS qv FROM base ORDER BY vec_id LIMIT 5
),
scored AS (
  -- zero-norm guard mirrors operators/similarity.mmr_rerank: an
  -- undefined relevance drops the row from the candidate pool
  SELECT q.query_id, b.vec_id AS doc_id,
         round(list_dot_product(b.v, q.qv)
               / (sqrt(list_dot_product(b.v, b.v))
                  * sqrt(list_dot_product(q.qv, q.qv))), 6) AS rel,
         b.v
  FROM base b CROSS JOIN q
  WHERE b.vec_id <> q.query_id
    AND list_dot_product(b.v, b.v) != 0
    AND list_dot_product(q.qv, q.qv) != 0
),
cand AS (
  SELECT query_id, doc_id, rel, v FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY rel DESC, doc_id) AS rn
    FROM scored)
  WHERE rn <= 25
),
sims AS (
  SELECT a.query_id, a.doc_id AS id_a, b.doc_id AS id_b,
         round(list_dot_product(a.v, b.v)
               / (sqrt(list_dot_product(a.v, a.v))
                  * sqrt(list_dot_product(b.v, b.v))), 6) AS sim
  FROM cand a JOIN cand b
    ON a.query_id = b.query_id AND a.doc_id <> b.doc_id
),
sel AS (
  SELECT query_id, 1 AS rank, doc_id, rel, [doc_id] AS selected
  FROM (
    SELECT query_id, doc_id, rel, row_number() OVER (
      PARTITION BY query_id ORDER BY rel DESC, doc_id) AS rn
    FROM cand)
  WHERE rn = 1
  UNION ALL
  SELECT s.query_id, s.rank + 1, p.doc_id, p.rel,
         list_append(s.selected, p.doc_id)
  FROM sel s JOIN LATERAL (
    -- λ and (1-λ) as e0 literals so both factors are the same IEEE
    -- doubles the Python side computes (0.7, 1.0-0.7).
    SELECT c.doc_id, c.rel,
           7e-1 * c.rel - (1e0 - 7e-1) * (
             SELECT max(m.sim) FROM sims m
             WHERE m.query_id = s.query_id AND m.id_a = c.doc_id
               AND list_contains(s.selected, m.id_b)) AS score
    FROM cand c
    WHERE c.query_id = s.query_id
      AND NOT list_contains(s.selected, c.doc_id)
    ORDER BY score DESC, c.doc_id
    LIMIT 1
  ) p ON true
  WHERE s.rank < 10
)
SELECT query_id, rank, doc_id, rel
FROM sel
ORDER BY query_id, rank
"""


def q_doc_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from floatchat_datapipeline_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(load_table(spark, sf_dir, "documents"))


_DOC_NGRAM_JACCARD_ORACLE = f"""
WITH sh AS (
  SELECT doc_id,
         unnest(list_transform({_SHINGLES_3_SQL},
                               s -> {_MD5_LONG_SQL.format(x='s')})) AS shingle
  FROM (SELECT doc_id, string_split(text, ' ') t FROM documents)
), sizes AS (
  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(n_inter::DOUBLE / (sa.n + sb.n - n_inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON id_a = sa.doc_id
JOIN sizes sb ON id_b = sb.doc_id
WHERE n_inter::DOUBLE / (sa.n + sb.n - n_inter) >= 0.05
"""


def q_doc_minhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from floatchat_datapipeline_spark.operators.dedup import minhash_signatures

    return minhash_signatures(load_table(spark, sf_dir, "documents"), spark)


# Universal-hash MinHash family (mirrors dedup._affine): one md5 per
# shingle reduced mod the 30-bit prime, then per-seed affine maps.
_MINHASH_SIG_SQL = f"""
sh AS (
  SELECT doc_id, unnest({_SHINGLES_3_SQL}) AS tok
  FROM (SELECT doc_id, string_split(text, ' ') t FROM documents)
), base AS (
  SELECT doc_id, {_MD5_LONG_SQL.format(x="tok")} % 1073741789 AS b
  FROM sh
), seeds AS (
  SELECT CAST(unnest(generate_series(0, 15)) AS INT) AS seed
), sig AS (
  SELECT doc_id, seed,
         min((CAST(2 * seed + 1 AS BIGINT) * b
              + CAST(97 * seed + 13 AS BIGINT)) % 1073741789) AS minhash
  FROM base, seeds
  GROUP BY doc_id, seed
)
"""

_DOC_MINHASH_SIGS_ORACLE = f"WITH {_MINHASH_SIG_SQL} SELECT doc_id, seed, minhash FROM sig"


def q_source_minhash_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L18 — inter-source corpus overlap via corpus-level MinHash
    (operators/dedup.source_minhash_overlap): per-source signature =
    min over the source's rows (min is associative), pair stage counts
    agreeing seeds on the tiny signature table. J_est = k/16 exact."""
    from floatchat_datapipeline_spark.operators.dedup import (
        source_minhash_overlap,
    )

    return source_minhash_overlap(load_table(spark, sf_dir, "documents"))


_SOURCE_MINHASH_OVERLAP_ORACLE = f"""
WITH sh AS (
  SELECT source, unnest({_SHINGLES_3_SQL}) AS tok
  FROM (SELECT source, string_split(text, ' ') t FROM documents)
), base AS (
  SELECT source, {_MD5_LONG_SQL.format(x="tok")} % 1073741789 AS b
  FROM sh
), seeds AS (
  SELECT CAST(unnest(generate_series(0, 15)) AS INT) AS seed
), sig AS (
  SELECT source, seed,
         min((CAST(2 * seed + 1 AS BIGINT) * b
              + CAST(97 * seed + 13 AS BIGINT)) % 1073741789) AS mh
  FROM base, seeds
  GROUP BY source, seed
)
SELECT a.source AS source_a, b.source AS source_b,
       CAST(count(*) FILTER (WHERE a.mh = b.mh) AS BIGINT) AS n_match,
       CAST(count(*) FILTER (WHERE a.mh = b.mh) AS DOUBLE) / 16.0
         AS jaccard_est
FROM sig a
JOIN sig b ON a.seed = b.seed AND a.source < b.source
GROUP BY 1, 2
ORDER BY n_match DESC, source_a, source_b
"""


def _cached_pair_frame(spark: SparkSession, sf_dir: str, kind: str) -> DataFrame:
    """Near-dup PAIR FRAMES are corpus state shared by their consumers
    (the standalone L22/LSH queries and the D14 recall certificate) —
    memoized like the D5 component index and the ANN models, so each is
    computed once and every consumer reads the materialized
    (output-sized) pair list."""
    from floatchat_datapipeline_spark.operators.dedup import (
        minhash_lsh_pairs,
        ppjoin_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")

    def build() -> DataFrame:
        df = (
            ppjoin_pairs(docs)
            if kind == "ppjoin"
            else minhash_lsh_pairs(docs, spark)
        )
        return df.localCheckpoint(eager=True)

    return memo.lookup("pair-frame", sf_dir, (kind,), docs, build)


def q_doc_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cached_pair_frame(spark, sf_dir, "lsh")


_DOC_MINHASH_LSH_ORACLE = f"""
WITH {_MINHASH_SIG_SQL},
keys AS (
  SELECT doc_id, CAST(seed // 4 AS INT) AS band,
         md5(string_agg(CAST(minhash AS STRING), ',' ORDER BY seed)) AS band_key
  FROM sig GROUP BY doc_id, CAST(seed // 4 AS INT)
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM keys a JOIN keys b
  ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
"""


def q_stream_neardup_intake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S15 — streaming near-dup admission control: arriving documents
    LSH-checked against the corpus index via a stream-static band-key
    join (streaming/windows.neardup_intake_stream). The harness streams
    the same documents table, so the batch twin — both-direction LSH
    band matches between distinct docs — is the oracle."""
    from floatchat_datapipeline_spark.streaming.run import materialize
    from floatchat_datapipeline_spark.streaming.sources import stream_table
    from floatchat_datapipeline_spark.streaming.windows import (
        neardup_intake_stream,
    )

    out = neardup_intake_stream(
        stream_table(spark, sf_dir, "documents"),
        load_table(spark, sf_dir, "documents"),
        cache_key=sf_dir,
    )
    return materialize(out, "q_stream_neardup_intake", output_mode="update")


_STREAM_NEARDUP_INTAKE_ORACLE = f"""
WITH {_MINHASH_SIG_SQL},
keys AS (
  SELECT doc_id, CAST(seed // 4 AS INT) AS band,
         md5(string_agg(CAST(minhash AS STRING), ',' ORDER BY seed)) AS band_key
  FROM sig GROUP BY doc_id, CAST(seed // 4 AS INT)
)
SELECT a.doc_id AS doc_id, b.doc_id AS corpus_id,
       count(*) AS n_shared_bands
FROM keys a JOIN keys b
  ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id <> b.doc_id
GROUP BY 1, 2
"""


def q_doc_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from floatchat_datapipeline_spark.operators.dedup import simhash

    return simhash(load_table(spark, sf_dir, "documents"), spark)


_DOC_SIMHASH_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {_MD5_LONG_SQL.format(x='tok')} AS h
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
), bits AS (
  SELECT CAST(unnest(generate_series(0, 47)) AS INT) AS bit
), per_bit AS (
  SELECT doc_id, bit, CAST(1 AS BIGINT) << bit AS pow2,
         CAST(sum(((h // (CAST(1 AS BIGINT) << bit)) % 2) * 2 - 1) AS BIGINT) AS s
  FROM toks, bits
  GROUP BY doc_id, bit
)
SELECT doc_id,
       CAST(sum(CASE WHEN s > 0 THEN pow2 ELSE 0 END) AS BIGINT) AS simhash
FROM per_bit GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# Embeddings: near-dup, grouped knn, audit (V4/V6 north-star)
# ---------------------------------------------------------------------------

# Zero-norm guard mirrors functions/vector.cosine: undefined cosine is
# NULL (fails >= filters, orders last under DESC in both engines).
_COS_SQL = (
    "(CASE WHEN list_dot_product(CAST({a} AS DOUBLE[]), CAST({a} AS DOUBLE[])) != 0"
    " AND list_dot_product(CAST({b} AS DOUBLE[]), CAST({b} AS DOUBLE[])) != 0"
    " THEN round(list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"
    " / (sqrt(list_dot_product(CAST({a} AS DOUBLE[]), CAST({a} AS DOUBLE[])))"
    " * sqrt(list_dot_product(CAST({b} AS DOUBLE[]), CAST({b} AS DOUBLE[])))), 6)"
    " ELSE NULL END)"
)


def q_emb_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from floatchat_datapipeline_spark.operators.similarity import (
        bucketed_near_dup_pairs,
    )

    return bucketed_near_dup_pairs(load_table(spark, sf_dir, "embeddings"))


_EMB_NEAR_DUP_ORACLE = f"""
WITH keyed AS (
  SELECT vec_id, embedding,
    list_aggregate([CASE WHEN embedding[i] >= 0 THEN '1' ELSE '0' END
                    for i in generate_series(1, 8)], 'string_agg', '') AS bucket
  FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       {_COS_SQL.format(a='a.embedding', b='b.embedding')} AS score
FROM keyed a JOIN keyed b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE {_COS_SQL.format(a='a.embedding', b='b.embedding')} >= 0.3
"""


def q_emb_knn_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    from floatchat_datapipeline_spark.operators.similarity import knn_within_label

    return knn_within_label(load_table(spark, sf_dir, "embeddings"))


_EMB_KNN_ORACLE = f"""
WITH scored AS (
  SELECT a.label, a.vec_id AS id_a, b.vec_id AS id_b,
         {_COS_SQL.format(a='a.embedding', b='b.embedding')} AS score
  FROM embeddings a JOIN embeddings b
    ON a.label = b.label AND a.vec_id <> b.vec_id
)
SELECT label, id_a, id_b, score, CAST(rank AS INT) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY id_a ORDER BY score DESC, id_b) AS rank
  FROM scored
) WHERE rank <= 3
"""


def q_emb_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from floatchat_datapipeline_spark.operators.similarity import embedding_audit

    return embedding_audit(load_table(spark, sf_dir, "embeddings"))


_EMB_AUDIT_ORACLE = """
WITH norms AS (
  SELECT embedding,
         round(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                     CAST(embedding AS DOUBLE[]))), 6) AS nrm
  FROM embeddings
)
SELECT count(*) AS total,
       CAST(sum(CASE WHEN embedding IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS with_embedding,
       CAST(sum(CASE WHEN len(embedding) = 64 THEN 1 ELSE 0 END) AS BIGINT)
         AS with_expected_dim,
       round(min(nrm), 6) AS norm_min,
       round(max(nrm), 6) AS norm_max
FROM norms
"""


# ---------------------------------------------------------------------------
# Argo text summaries (C1/C2), explode roundtrip (R1), pivot (A4),
# flatten (P9), filename ids (P8), filtered ANN (F10)
# ---------------------------------------------------------------------------

# Spark formats doubles in (0, 1e-3) scientifically; rounded 1-3dp values
# can't land there except exact ±0.0 — "+ 0e0" kills the -0.0 edge.


def q_argo_summaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2 — production NL summary per float over the A1 aggregate."""
    from floatchat_datapipeline_spark.functions.text import float_summary_v2

    flat = float_metadata_agg(_argo_clean_df(spark, sf_dir))
    cols = {c: (F.col(c) + F.lit(0.0)) if c.endswith(("_min", "_max")) else F.col(c) for c in flat.columns}
    return flat.select(
        "float_id", float_summary_v2(cols).alias("document")
    )


_ARGO_SUMMARIES_ORACLE = _argo_oracle(
    """
, agg AS (
  SELECT float_id,
    min(time) AS deploy_date,
    min(latitude) + 0e0 AS lat_min, max(latitude) + 0e0 AS lat_max,
    min(longitude) + 0e0 AS lon_min, max(longitude) + 0e0 AS lon_max,
    count(DISTINCT profile_id) AS total_profiles,
    count(temperature) AS temperature_count,
    min(temperature) + 0e0 AS temperature_min, max(temperature) + 0e0 AS temperature_max,
    count(salinity) AS salinity_count,
    min(salinity) + 0e0 AS salinity_min, max(salinity) + 0e0 AS salinity_max,
    count(pressure) AS pressure_count,
    min(pressure) + 0e0 AS pressure_min, max(pressure) + 0e0 AS pressure_max
  FROM argo_clean GROUP BY float_id
)
SELECT float_id,
  concat(
    'On ', strftime(deploy_date, '%d'), 'th ', strftime(deploy_date, '%b %Y'),
    ', Argo float ', float_id, ' (platform ', float_id, ') recorded ',
    CAST(total_profiles AS STRING), ' profiles near latitude ',
    CAST(abs(round((lat_min + lat_max) / 2e0, 3) + 0e0) AS STRING), '°',
    CASE WHEN round((lat_min + lat_max) / 2e0, 3) >= 0 THEN 'N' ELSE 'S' END,
    ' and longitude ',
    CAST(abs(round((lon_min + lon_max) / 2e0, 3) + 0e0) AS STRING), '°',
    CASE WHEN round((lon_min + lon_max) / 2e0, 3) >= 0 THEN 'E' ELSE 'W' END,
    '. Pressure ranged from ',
    coalesce(CAST(round(pressure_min, 1) AS STRING), 'unknown'), ' to ',
    coalesce(CAST(round(pressure_max, 1) AS STRING), 'unknown'),
    ' dbar. Temperature ranged from ',
    coalesce(CAST(round(temperature_min, 1) AS STRING), 'unknown'), ' to ',
    coalesce(CAST(round(temperature_max, 1) AS STRING), 'unknown'),
    '°C. Salinity ranged from ',
    coalesce(CAST(round(salinity_min, 1) AS STRING), 'unknown'), ' to ',
    coalesce(CAST(round(salinity_max, 1) AS STRING), 'unknown'),
    ' PSU. A total of ',
    CAST(coalesce(temperature_count, 0) + coalesce(salinity_count, 0)
         + coalesce(pressure_count, 0) AS STRING),
    ' measurements were taken.') AS document
FROM agg
"""
)


def q_argo_explode_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1 — build per-profile measurement arrays, posexplode back to long
    rows. Row set must equal the (complete-measurement) cleaned input."""
    from floatchat_datapipeline_spark.operators.reshape import (
        explode_profile_matrix,
    )

    cl = (
        _argo_clean_df(spark, sf_dir)
        .filter(
            F.col("profile_id").isNotNull()
            & F.col("temperature").isNotNull()
            & F.col("salinity").isNotNull()
            & F.col("pressure").isNotNull()
        )
    )
    matrix = cl.groupBy("float_id", "profile_id").agg(
        F.min("time").alias("time"),
        F.sort_array(
            F.collect_list(F.struct("pressure", "temperature", "salinity"))
        ).alias("_rows"),
    )
    arrays = matrix.select(
        "float_id",
        "profile_id",
        "time",
        F.col("_rows.pressure").alias("pres"),
        F.col("_rows.temperature").alias("temp"),
        F.col("_rows.salinity").alias("psal"),
    )
    return explode_profile_matrix(arrays)


_ARGO_EXPLODE_ORACLE = _argo_oracle(
    """
, complete AS (
  SELECT * FROM argo_clean
  WHERE profile_id IS NOT NULL AND temperature IS NOT NULL
    AND salinity IS NOT NULL AND pressure IS NOT NULL
), matrix AS (
  SELECT float_id, profile_id, min(time) AS time,
         list((pressure, temperature, salinity)
              ORDER BY pressure, temperature, salinity) AS rows_
  FROM complete GROUP BY float_id, profile_id
)
SELECT float_id, profile_id, time,
       CAST(u.i - 1 AS INT) AS level,
       u.r[1] AS pressure, u.r[2] AS temperature, u.r[3] AS salinity
FROM matrix,
LATERAL (SELECT unnest(rows_) AS r,
                unnest(generate_series(1, len(rows_))) AS i) u
"""
)


def q_argo_profile_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 — per-(float, profile_time) TEMP/PSAL min/max pivot over the EAV
    melt + max depth/pressure (reference embed.py:305-361)."""
    from floatchat_datapipeline_spark.operators.aggregate import profile_summary

    eav = melt_profiles_eav(_argo_clean_df(spark, sf_dir))
    return profile_summary(eav)


_ARGO_PROFILE_PIVOT_ORACLE = _argo_oracle(
    """
, keyed AS (
  SELECT *, strftime(time, '%Y%m%d_%H%M%S') AS ts_key FROM argo_clean
), melted AS (
  SELECT float_id, time AS profile_time, pressure, depth,
         'TEMP' AS variable_name, temperature AS variable_value
  FROM keyed WHERE temperature IS NOT NULL
  UNION ALL
  SELECT float_id, time, pressure, depth, 'PSAL', salinity
  FROM keyed WHERE salinity IS NOT NULL
)
SELECT float_id, profile_time,
  min(variable_value) FILTER (variable_name = 'TEMP') AS TEMP_min,
  max(variable_value) FILTER (variable_name = 'TEMP') AS TEMP_max,
  min(variable_value) FILTER (variable_name = 'PSAL') AS PSAL_min,
  max(variable_value) FILTER (variable_name = 'PSAL') AS PSAL_max,
  max(pressure) AS max_pressure,
  max(depth) AS max_depth
FROM melted
GROUP BY float_id, profile_time
"""
)


def q_argo_properties_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R4+P9 — build the nested `properties` struct (A1 output) then flatten
    measurements.temperature.min → temperature_min etc. (reference
    fastapi_app.py:418-446). The oracle computes the flat form directly —
    equal output proves the nest/flatten roundtrip."""
    from floatchat_datapipeline_spark.operators.aggregate import float_properties

    props = float_properties(_argo_clean_df(spark, sf_dir))
    m = F.col("properties.measurements")
    return props.select(
        "float_id",
        "platform_number",
        F.col("properties.total_profiles").alias("total_profiles"),
        F.col("properties.date_range.start").alias("date_start"),
        F.col("properties.date_range.end").alias("date_end"),
        F.col("properties.location_range.lat_min").alias("lat_min"),
        F.col("properties.location_range.lat_max").alias("lat_max"),
        m["temperature"]["min"].alias("temperature_min"),
        m["temperature"]["max"].alias("temperature_max"),
        m["temperature"]["mean"].alias("temperature_mean"),
        m["salinity"]["count"].alias("salinity_count"),
    )


_ARGO_PROPERTIES_FLAT_ORACLE = _argo_oracle(
    """
SELECT float_id,
  float_id AS platform_number,
  count(DISTINCT profile_id) AS total_profiles,
  strftime(min(time), '%Y-%m-%dT%H:%M:%S') AS date_start,
  strftime(max(time), '%Y-%m-%dT%H:%M:%S') AS date_end,
  min(latitude) AS lat_min, max(latitude) AS lat_max,
  CASE WHEN count(temperature) > 0 THEN min(temperature) END AS temperature_min,
  CASE WHEN count(temperature) > 0 THEN max(temperature) END AS temperature_max,
  CASE WHEN count(temperature) > 0 THEN avg(temperature) END AS temperature_mean,
  CASE WHEN count(salinity) > 0 THEN count(salinity) END AS salinity_count
FROM argo_clean GROUP BY float_id
"""
)


def q_filename_float_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8 — extract float ids from NetCDF-style filenames synthesized from
    the part table (nodc_D{key}_{cycle}.nc, reference fastapi_app.py:660-675)."""
    from floatchat_datapipeline_spark.functions.ids import float_id_from_filename

    part = load_table(spark, sf_dir, "part")
    files = part.select(
        F.concat(
            F.lit("nodc_D"),
            F.col("p_partkey").cast("string"),
            F.lit("_"),
            (F.col("p_size") % 400).cast("string"),
            F.lit(".nc"),
        ).alias("file_name")
    )
    return files.select(
        "file_name", float_id_from_filename("file_name").alias("float_id")
    )


_FILENAME_FLOAT_IDS_ORACLE = """
SELECT file_name,
       regexp_extract(file_name, '_[DR]?([0-9]+)_', 1) AS float_id
FROM (
  SELECT concat('nodc_D', CAST(p_partkey AS STRING), '_',
                CAST(p_size % 400 AS STRING), '.nc') AS file_name
  FROM part
)
"""


def q_emb_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10+O4 — metadata-filtered ANN: cosine top-k restricted to a label
    predicate BEFORE ranking (pre-filter, the cheap order)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 1).select(F.col("embedding").alias("qvec"))
    return (
        emb.filter((F.col("label") % 2 == 0) & (F.col("vec_id") != 1))
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            F.round(cosine(F.col("embedding"), F.col("qvec")), 6).alias("score"),
        )
        .orderBy(F.desc("score"), F.col("vec_id"))
        .limit(5)
    )


_EMB_FILTERED_TOPK_ORACLE = f"""
WITH q AS (
  SELECT CAST(embedding AS DOUBLE[]) AS qvec FROM embeddings WHERE vec_id = 1
)
SELECT vec_id, label,
       round(list_dot_product(CAST(embedding AS DOUBLE[]), qvec)
             / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                      CAST(embedding AS DOUBLE[])))
                * sqrt(list_dot_product(qvec, qvec))), 6) AS score
FROM embeddings, q
WHERE label % 2 = 0 AND vec_id <> 1
ORDER BY score DESC, vec_id
LIMIT 5
"""


def q_collection_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7/K8 — per-source collection stats over documents (the reference's
    export report aggregates, export_chromadb_to_text.py:195-245)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
        .cast("long")
        .alias("n_english"),
    )


_COLLECTION_STATS_ORACLE = """
SELECT source, count(*) AS n_docs,
       count(DISTINCT lang) AS n_langs,
       min(n_chars) AS min_chars, max(n_chars) AS max_chars,
       CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_english
FROM documents GROUP BY source
"""


# ---------------------------------------------------------------------------
# Structured Streaming twins (§2.12) — each runs the streaming plan under
# Trigger.AvailableNow via streaming.run.materialize, so the DuckDB oracle
# checks true streaming semantics (watermark/session_window/stateful op),
# not a batch re-statement.
# ---------------------------------------------------------------------------


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O6/V4 — IVF ANN with a trained coarse quantizer: deterministic
    spherical k-means (2 Lloyd iterations from lowest-id seeds), nearest-
    centroid assignment, probe the query's nprobe=2 nearest clusters with
    exact cosine re-rank (FAISS IVF-flat shape; reference ivfflat,
    ingest/schema.sql:41)."""
    from floatchat_datapipeline_spark.embeddings.search import ann_ivf_topk

    return ann_ivf_topk(
        load_table(spark, sf_dir, "embeddings"),
        query_id=1,
        k=5,
        cache_key=f"{sf_dir}/embeddings.parquet",
    )


def _kmeans_replay_sql(
    k: int | str = 8,
    iters: int = 2,
    sfx: str = "",
    vec_sql: str = "CAST(embedding AS DOUBLE[])",
) -> str:
    """WITH-clause prefix (no leading WITH) replaying
    embeddings.search.kmeans_centroids: c0 = lowest-id seeds; each
    iteration assigns (6dp-rounded cosine argmax, tie-break cid) and
    recomputes per-position means from the ROUNDED sum — the exact
    arithmetic the Spark side uses, so both engines land on identical
    centroids. Defines CTEs `v{sfx}` (vec_id, vec) and `af{sfx}` (final
    assignment: vec_id, vec, cluster) for the caller's suffix. `sfx` and
    `vec_sql` let PQ replay the SAME training once per subspace slice
    without CTE-name collisions."""
    assign = f"""
  SELECT vec_id, vec, cid AS cluster FROM (
    SELECT a.vec_id, a.vec, c.cid,
           row_number() OVER (
             PARTITION BY a.vec_id
             ORDER BY {{sim}} DESC, c.cid
           ) AS rn
    FROM v{sfx} a, {{cents}} c
  ) WHERE rn = 1
"""
    # coalesce mirrors nearest_centroid's -2.0 zero-norm sentinel (the
    # guarded _COS_SQL yields NULL there); under DESC both engines would
    # already order NULL last, the sentinel just makes the tie explicit
    sim = f"coalesce({_COS_SQL.format(a='a.vec', b='c.cvec')}, CAST(-2.0 AS DOUBLE))"
    sql = f"""v{sfx} AS (
  SELECT vec_id, {vec_sql} AS vec FROM embeddings
), c0{sfx} AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
         vec AS cvec
  FROM (SELECT * FROM v{sfx} ORDER BY vec_id LIMIT {k})
)"""
    for i in range(1, iters + 1):
        sql += f""", a{i}{sfx} AS ({assign.format(sim=sim, cents=f'c{i - 1}{sfx}')})
, c{i}{sfx} AS (
  SELECT cluster AS cid, list(m ORDER BY pos) AS cvec FROM (
    SELECT a.cluster, u.i AS pos,
           round(sum(u.x), 6) / count(*) AS m
    FROM a{i}{sfx} a,
    LATERAL (SELECT unnest(vec) AS x,
                    unnest(generate_series(1, len(vec))) AS i) u
    GROUP BY a.cluster, u.i)
  GROUP BY cluster
)"""
    sql += f", af{sfx} AS ({assign.format(sim=sim, cents=f'c{iters}{sfx}')})"
    return sql


def _ann_ivf_oracle(k: int = 8, iters: int = 2, nprobe: int = 2) -> str:
    """k-means replay prefix + the nprobe probe/re-rank suffix."""
    sql = "WITH " + _kmeans_replay_sql(k, iters)
    sql += f""", q AS (
  SELECT vec AS qvec FROM v WHERE vec_id = 1
), qc AS (
  SELECT c.cid FROM c{iters} c, q
  ORDER BY {_COS_SQL.format(a='q.qvec', b='c.cvec')} DESC, c.cid
  LIMIT {nprobe}
)
SELECT a.vec_id, a.cluster,
       round({_COS_SQL.format(a='a.vec', b='q.qvec')}, 6) AS score
FROM af a, q
WHERE a.cluster IN (SELECT cid FROM qc) AND a.vec_id <> 1
ORDER BY score DESC, a.vec_id
LIMIT 5
"""
    return sql


_ANN_IVF_ORACLE = _ann_ivf_oracle()


def q_revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parity-plus (§2.6 note): multi-dimensional ROLLUP over
    (region, order-year) with subtotal and grand-total rows — the
    reference has no grouping-sets capability at all; Spark's rollup is
    one shuffle with partial aggregation."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    joined = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(nation, customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select(
            F.col("r_name").alias("region_name"),
            F.year("o_orderdate").alias("order_year"),
            # round BEFORE the integer cast: x*100 lands a hair under the
            # integer in binary, and Spark's cast truncates while DuckDB's
            # rounds — rounding first makes both exact
            F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
        )
    )
    return (
        joined.rollup("region_name", "order_year")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            # exact integer cents — double SUM order-dependence can't bite
            F.sum("cents").alias("revenue_cents"),
        )
    )


_REVENUE_ROLLUP_ORACLE = """
SELECT r_name AS region_name,
       CAST(year(o_orderdate) AS INT) AS order_year,
       count(*) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS revenue_cents
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, year(o_orderdate))
"""


def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1h/30min window over streamed events — every event lands
    in exactly two windows; the oracle replays the overlap with a
    2-element series join."""
    from floatchat_datapipeline_spark.streaming.run import materialize
    from floatchat_datapipeline_spark.streaming.sources import stream_table
    from floatchat_datapipeline_spark.streaming.windows import (
        sliding_rollup_stream,
    )

    return materialize(
        sliding_rollup_stream(stream_table(spark, sf_dir, "events")),
        "q_stream_sliding",
    )


_STREAM_SLIDING_ORACLE = """
SELECT time_bucket(INTERVAL '30 minutes', ts)
         - u.k * INTERVAL '30 minutes' AS w_start,
       event_type, count(*) AS n_events,
       round(sum(value), 2) AS sum_value
FROM events, (SELECT unnest(generate_series(0, 1)) AS k) u
GROUP BY 1, 2
"""


def q_netcdf_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2/S4/P1/P2/R1 — the binaryFile + mapInArrow profile-file reader
    over deterministic fixture files (alias fallback, fill masking, CF
    day/hour time units, 2-D→long expansion, glob gate). The oracle is the
    expected-output VALUES literal rendered from the same constants."""
    import tempfile

    from floatchat_datapipeline_spark.sources.fixtures import write_fixture_dir
    from floatchat_datapipeline_spark.sources.netcdf import read_argo

    d = write_fixture_dir(
        os.path.join(tempfile.gettempdir(), "floatchat-ncfix")
    )
    return read_argo(spark, d).select(
        "float_id",
        "profile_index",
        "time",
        "latitude",
        "longitude",
        "level",
        "pressure",
        "temperature",
        "salinity",
    )


# ---------------------------------------------------------------------------
# Semantic search / encoder / ANN (V1-V5, O3/O4/O6) — the stub encoder is
# SQL-expressible, so the WHOLE pipeline (encode → filter → cosine → topk)
# is value-checked against DuckDB, not just row-counted.
# ---------------------------------------------------------------------------

_SEARCH_QUERY_TEXT = "spark table scan performance data query"


def q_semantic_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.3 — the reference's query engine Spark-first: driver-side query
    encode (V2), metadata pre-filter (F10), pandas_udf doc encode (V1),
    JVM cosine + TakeOrderedAndProject top-k (O3)."""
    from floatchat_datapipeline_spark.embeddings.search import semantic_search
    from floatchat_datapipeline_spark.plans.scale import rebalance

    docs = rebalance(
        load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    )
    out = semantic_search(
        docs, _SEARCH_QUERY_TEXT, k=10, where=F.col("lang") == "en"
    )
    # zero-score docs share no hash bucket with the query; the oracle's
    # sparse join can't see them, so exclude them from the ranked set on
    # both sides.
    return out.filter(F.col("score") > 0)


def _stub_search_oracle(query_text: str) -> str:
    from floatchat_datapipeline_spark.embeddings.encoder import stub_encoder_sql

    return f"""
WITH {stub_encoder_sql("text", "documents", "doc_id")},
en AS (SELECT doc_id FROM documents WHERE lang = 'en'),
qtok AS (SELECT unnest(string_split('{query_text}', ' ')) AS tok),
qb AS (
  SELECT CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) % 64 AS bucket,
         count(*) AS c
  FROM qtok GROUP BY 1
),
qn AS (SELECT sqrt(sum(CAST(c * c AS DOUBLE))) AS nrm FROM qb),
qv AS (SELECT bucket, CAST(c AS DOUBLE) / (SELECT nrm FROM qn) AS w FROM qb),
scores AS (
  SELECT v._id AS doc_id, round(sum(v.w * qv.w), 6) AS score
  FROM _vec v
  JOIN en ON v._id = en.doc_id
  JOIN qv USING (bucket)
  GROUP BY 1
)
SELECT doc_id, score FROM scores
WHERE score > 0
ORDER BY score DESC, doc_id
LIMIT 10
"""


_SEMANTIC_SEARCH_ORACLE = _stub_search_oracle(_SEARCH_QUERY_TEXT)


_BATCH_QUERIES = {
    "warm": "warm tropical surface water temperature",
    "deep": "deep cold salinity profile measurements",
    "drift": "float drift trajectory across the basin",
}


def q_semantic_search_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V7/F10 batch form — N queries in ONE corpus scan: the corpus is
    encoded once, the encoded query set is broadcast, a per-query window
    ranks top-k. At 100 TB, N queries cost one scan, not N (see
    embeddings/search.semantic_search_batch). Zero-score docs are
    excluded on both sides (the oracle's sparse bucket join cannot see
    them), exactly as in `semantic_search`."""
    from floatchat_datapipeline_spark.embeddings.search import (
        semantic_search_batch,
    )
    from floatchat_datapipeline_spark.plans.scale import rebalance

    docs = rebalance(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    out = semantic_search_batch(docs, _BATCH_QUERIES, k=10)
    return out.filter(F.col("score") > 0)


def _batch_search_oracle(queries: dict[str, str]) -> str:
    from floatchat_datapipeline_spark.embeddings.encoder import stub_encoder_sql

    per_q = []
    for qid, text in queries.items():
        per_q.append(
            f"""qtok_{qid} AS (
  SELECT unnest(string_split('{text}', ' ')) AS tok),
qb_{qid} AS (
  SELECT CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) % 64 AS bucket,
         count(*) AS c
  FROM qtok_{qid} GROUP BY 1),
qn_{qid} AS (SELECT sqrt(sum(CAST(c * c AS DOUBLE))) AS nrm FROM qb_{qid}),
qv_{qid} AS (
  SELECT bucket, CAST(c AS DOUBLE) / (SELECT nrm FROM qn_{qid}) AS w
  FROM qb_{qid}),
scores_{qid} AS (
  SELECT '{qid}' AS query_id, v._id AS doc_id,
         round(sum(v.w * qv.w), 6) AS score
  FROM _vec v JOIN qv_{qid} qv USING (bucket)
  GROUP BY 2)"""
        )
    unions = " UNION ALL ".join(
        f"SELECT * FROM scores_{qid}" for qid in queries
    )
    return f"""
WITH {stub_encoder_sql("text", "documents", "doc_id")},
{', '.join(per_q)},
allq AS ({unions}),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (
           PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
  FROM allq
)
SELECT query_id, doc_id, score, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 10 AND score > 0
ORDER BY query_id, rank
"""


_SEMANTIC_SEARCH_BATCH_ORACLE = _batch_search_oracle(_BATCH_QUERIES)


def q_embedding_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V5 — null-out every 13th embedding, repair by re-encoding, report
    per-doc active-bucket counts (proves repaired vectors are real)."""
    from floatchat_datapipeline_spark.embeddings.encoder import encode_text
    from floatchat_datapipeline_spark.embeddings.search import repair_embeddings
    from floatchat_datapipeline_spark.plans.scale import rebalance

    docs = rebalance(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    with_nulls = docs.withColumn(
        "embedding",
        F.when(F.col("doc_id") % 13 == 0, F.lit(None)).otherwise(
            encode_text("text")
        ),
    )
    repaired = repair_embeddings(with_nulls)
    return repaired.select(
        "doc_id",
        (F.col("doc_id") % 13 == 0).alias("was_missing"),
        F.size(F.filter(F.col("embedding"), lambda x: x > 0)).alias(
            "n_active_buckets"
        ),
    )


def _repair_oracle() -> str:
    from floatchat_datapipeline_spark.embeddings.encoder import stub_encoder_sql

    return f"""
WITH {stub_encoder_sql("text", "documents", "doc_id")}
SELECT _id AS doc_id, _id % 13 = 0 AS was_missing,
       CAST(count(*) AS INT) AS n_active_buckets
FROM _vec GROUP BY 1, 2
"""


_EMBEDDING_REPAIR_ORACLE = _repair_oracle()


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O6 — hyperplane-LSH bucketed ANN over the embeddings table: the
    scalable stand-in for the reference's ivfflat/HNSW index, with exact
    cosine re-ranking inside the candidate bucket."""
    from floatchat_datapipeline_spark.embeddings.search import ann_lsh_topk

    return ann_lsh_topk(load_table(spark, sf_dir, "embeddings"), query_id=1, k=5)


def _ann_lsh_oracle() -> str:
    planes = " || ".join(
        f"(CASE WHEN list_dot_product(v, list_transform(generate_series(0, len(v) - 1), "
        f"d -> sin({997 * p} + CAST(d AS DOUBLE)))) >= 0 "
        "THEN '1' ELSE '0' END)"
        for p in range(8)
    )
    return f"""
WITH keyed AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), sigged AS (
  SELECT vec_id, v, {planes} AS sig FROM keyed
), q AS (
  SELECT v AS qv, sig AS qsig FROM sigged WHERE vec_id = 1
)
SELECT vec_id,
       round(list_dot_product(v, qv)
             / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))),
             6) AS score
FROM sigged, q
WHERE sig = qsig AND vec_id <> 1
ORDER BY score DESC, vec_id
LIMIT 5
"""


_ANN_LSH_ORACLE = _ann_lsh_oracle()


# ---------------------------------------------------------------------------
# Gap-fill: C1/C3 templates, P10 doc-type classify (+D4), P11 substring
# stats, D3 symmetric diff
# ---------------------------------------------------------------------------


def q_argo_summary_v1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1+C5+C6 — operational float summary with ocean-region and
    hemisphere-zone classification over the A1 aggregate."""
    from floatchat_datapipeline_spark.functions.text import float_summary_v1

    flat = float_metadata_agg(_argo_clean_df(spark, sf_dir))
    cols = {
        c: (F.col(c) + F.lit(0.0)) if c.endswith(("_min", "_max", "_mean")) else F.col(c)
        for c in flat.columns
    }
    return flat.select(
        "float_id", float_summary_v1(cols).alias("document")
    )


_ARGO_SUMMARY_V1_ORACLE = _argo_oracle(
    """
, agg AS (
  SELECT float_id,
    min(time) AS deploy_date, max(time) AS end_date,
    min(latitude) + 0e0 AS lat_min, max(latitude) + 0e0 AS lat_max,
    min(longitude) + 0e0 AS lon_min, max(longitude) + 0e0 AS lon_max,
    count(DISTINCT profile_id) AS total_profiles,
    min(temperature) + 0e0 AS temperature_min,
    max(temperature) + 0e0 AS temperature_max,
    avg(temperature) + 0e0 AS temperature_mean,
    min(salinity) + 0e0 AS salinity_min, max(salinity) + 0e0 AS salinity_max
  FROM argo_clean GROUP BY float_id
), ctr AS (
  SELECT *, (lat_min + lat_max) / 2e0 AS lat_c,
            (lon_min + lon_max) / 2e0 AS lon_c
  FROM agg
)
SELECT float_id,
  concat(
    'Argo float ', float_id, ' operated from ',
    coalesce(strftime(deploy_date, '%Y-%m-%d'), 'unknown'), ' to ',
    coalesce(strftime(end_date, '%Y-%m-%d'), 'unknown'), ' in the ',
    CASE WHEN lat_c < -60 THEN 'Southern Ocean'
         WHEN lat_c > 66 THEN 'Arctic Ocean'
         WHEN lon_c >= 20 AND lon_c < 120 THEN 'Indian Ocean'
         WHEN lon_c >= 120 OR lon_c < -70 THEN 'Pacific Ocean'
         ELSE 'Atlantic Ocean' END,
    ' (',
    CASE WHEN lat_c < -30 THEN 'southern'
         WHEN lat_c > 30 THEN 'northern' ELSE 'tropical' END,
    ' waters, latitude ',
    coalesce(CAST(round(lat_min, 3) + 0e0 AS STRING), 'unknown'), ' to ',
    coalesce(CAST(round(lat_max, 3) + 0e0 AS STRING), 'unknown'),
    ', longitude ',
    coalesce(CAST(round(lon_min, 3) + 0e0 AS STRING), 'unknown'), ' to ',
    coalesce(CAST(round(lon_max, 3) + 0e0 AS STRING), 'unknown'),
    ') with ', CAST(total_profiles AS STRING),
    ' profiles, temperature ',
    coalesce(CAST(round(temperature_min, 1) AS STRING), 'unknown'), ' to ',
    coalesce(CAST(round(temperature_max, 1) AS STRING), 'unknown'),
    ' °C (mean ',
    coalesce(CAST(round(temperature_mean, 2) AS STRING), 'unknown'),
    '), salinity ',
    coalesce(CAST(round(salinity_min, 1) AS STRING), 'unknown'), ' to ',
    coalesce(CAST(round(salinity_max, 1) AS STRING), 'unknown'),
    ' PSU.') AS document
FROM ctr
"""
)


def q_argo_upload_description(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3+A3 — the /upload API's whole-file description over global stats
    (reference fastapi_app.py:524-555 over :279-372)."""
    from floatchat_datapipeline_spark.functions.text import upload_description
    from floatchat_datapipeline_spark.operators.aggregate import global_stats

    g = global_stats(_argo_clean_df(spark, sf_dir))
    cols = {
        c: (F.col(c) + F.lit(0.0))
        if c.endswith(("_min", "_max", "_mean")) and not c.startswith("time")
        else F.col(c)
        for c in g.columns
    }
    return g.select(upload_description(cols).alias("description"))


_ARGO_UPLOAD_DESC_ORACLE = _argo_oracle(
    """
, g AS (
  SELECT
    min(time) AS time_min, max(time) AS time_max,
    min(latitude) + 0e0 AS lat_min, max(latitude) + 0e0 AS lat_max,
    min(longitude) + 0e0 AS lon_min, max(longitude) + 0e0 AS lon_max,
    count(temperature) AS temperature_count,
    min(temperature) + 0e0 AS temperature_min,
    max(temperature) + 0e0 AS temperature_max,
    avg(temperature) + 0e0 AS temperature_mean
  FROM argo_clean
)
SELECT concat(
  'Data collected from ',
  coalesce(strftime(time_min, '%Y-%m-%d'), 'unknown'), ' to ',
  coalesce(strftime(time_max, '%Y-%m-%d'), 'unknown'),
  '. Location: latitude ',
  coalesce(CAST(round(lat_min, 3) + 0e0 AS STRING), 'unknown'), ' to ',
  coalesce(CAST(round(lat_max, 3) + 0e0 AS STRING), 'unknown'),
  ', longitude ',
  coalesce(CAST(round(lon_min, 3) + 0e0 AS STRING), 'unknown'), ' to ',
  coalesce(CAST(round(lon_max, 3) + 0e0 AS STRING), 'unknown'),
  '. Temperature: ',
  coalesce(CAST(round(temperature_min, 1) AS STRING), 'unknown'), ' to ',
  coalesce(CAST(round(temperature_max, 1) AS STRING), 'unknown'),
  ' (mean ',
  coalesce(CAST(round(temperature_mean, 2) AS STRING), 'unknown'),
  ', ', CAST(coalesce(temperature_count, 0) AS STRING),
  ' measurements).') AS description
FROM g
"""
)


def q_doc_type_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10+D4 — try-parse classification (reference cleanup_chromadb.py:
    82-106): every 4th doc's text is replaced by a JSON properties blob;
    the operator must genuinely parse to find them (both engines parse —
    the synthesis rule is never consulted). keep = the D4 retention set."""
    from pyspark.sql.types import StructType as S

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "n_chars")
    jsonish = F.concat(
        F.lit('{"date_range": {"start": "2020-01-01"}, "measurements": '
              '{"temperature": {"count": '),
        F.col("n_chars").cast("string"),
        F.lit('}}, "location_range": {"lat_min": '),
        (F.col("doc_id") % 90 - 45).cast("string"),
        F.lit("}}"),
    )
    mixed = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 4 == 0, jsonish).otherwise(F.col("text")).alias(
            "document"
        ),
    )
    schema = (
        "date_range struct<start:string>, "
        "measurements map<string,struct<count:int>>, "
        "location_range struct<lat_min:double>"
    )
    parsed = F.from_json(F.col("document"), schema)
    doc_type = F.when(
        parsed.isNotNull()
        & parsed["date_range"].isNotNull()
        & parsed["measurements"].isNotNull()
        & parsed["location_range"].isNotNull(),
        F.lit("json"),
    ).otherwise(F.lit("semantic"))
    return mixed.select(
        "doc_id",
        doc_type.alias("doc_type"),
        (doc_type == "semantic").alias("keep"),
    )


_DOC_TYPE_CLASSIFY_ORACLE = """
WITH mixed AS (
  SELECT doc_id,
         CASE WHEN doc_id % 4 = 0 THEN
           concat('{"date_range": {"start": "2020-01-01"}, "measurements": ',
                  '{"temperature": {"count": ', CAST(n_chars AS STRING),
                  '}}, "location_range": {"lat_min": ',
                  CAST(doc_id % 90 - 45 AS STRING), '}}')
         ELSE text END AS document
  FROM documents
)
SELECT doc_id,
  CASE WHEN j IS NOT NULL
        AND json_extract(j, '$.date_range') IS NOT NULL
        AND json_extract(j, '$.measurements') IS NOT NULL
        AND json_extract(j, '$.location_range') IS NOT NULL
       THEN 'json' ELSE 'semantic' END AS doc_type,
  NOT (j IS NOT NULL
        AND json_extract(j, '$.date_range') IS NOT NULL
        AND json_extract(j, '$.measurements') IS NOT NULL
        AND json_extract(j, '$.location_range') IS NOT NULL) AS keep
FROM (SELECT doc_id, try_cast(document AS JSON) AS j FROM mixed)
"""


def q_summary_stat_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P11 — parse stats back OUT of the generated summary text with
    regexp groups (reference test_advanced_chromadb_queries.py:454-482)."""
    docs = q_argo_summaries(spark, sf_dir)
    return docs.select(
        "float_id",
        F.regexp_extract(
            "document", r"Temperature ranged from (.*?) to (.*?)°C", 1
        ).alias("temp_min_s"),
        F.regexp_extract(
            "document", r"Temperature ranged from (.*?) to (.*?)°C", 2
        ).alias("temp_max_s"),
        F.regexp_extract("document", r"recorded (\d+) profiles", 1).alias(
            "n_profiles_s"
        ),
    )


def _summary_stat_extract_oracle() -> str:
    return f"""
SELECT float_id,
  regexp_extract(document, 'Temperature ranged from (.*?) to (.*?)°C', 1)
    AS temp_min_s,
  regexp_extract(document, 'Temperature ranged from (.*?) to (.*?)°C', 2)
    AS temp_max_s,
  regexp_extract(document, 'recorded ([0-9]+) profiles', 1) AS n_profiles_s
FROM ({_ARGO_SUMMARIES_ORACLE}) s
"""


def q_sync_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3 — symmetric unmatched-id report between the cleaned store and a
    derived 'vector store' id set (ids with suppkey % 7 <> 3, straight off
    the dirty view — so both directions are non-empty)."""
    from floatchat_datapipeline_spark.operators.joins import diff_both

    cleaned = _argo_clean_df(spark, sf_dir).select("float_id")
    li = load_table(spark, sf_dir, "lineitem")
    chroma = li.filter(F.col("l_suppkey") % 7 != 3).select(
        F.col("l_suppkey").cast("string").alias("float_id")
    )
    return diff_both(cleaned, chroma)


_SYNC_DIFF_ORACLE = _argo_oracle(
    """
, a AS (SELECT DISTINCT float_id FROM argo_clean),
b AS (SELECT DISTINCT CAST(l_suppkey AS STRING) AS float_id
      FROM lineitem WHERE l_suppkey % 7 <> 3)
SELECT float_id, 'only_a' AS side FROM a
WHERE float_id NOT IN (SELECT float_id FROM b)
UNION ALL
SELECT float_id, 'only_b' AS side FROM b
WHERE float_id NOT IN (SELECT float_id FROM a)
"""
)


def q_floats_scan_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7/S8 — the sync jobs' source scan: floats with non-null properties
    (F9), deterministic float_id order (O1), projected columns (reference
    sync_supabase_to_chromadb.py:87-115)."""
    from floatchat_datapipeline_spark.operators.aggregate import float_properties

    props = float_properties(_argo_clean_df(spark, sf_dir))
    return (
        props.filter(F.col("properties").isNotNull())
        .select(
            "float_id",
            "platform_number",
            F.col("properties.total_profiles").alias("total_profiles"),
        )
        .orderBy("float_id")
    )


_FLOATS_SCAN_ORDERED_ORACLE = _argo_oracle(
    """
SELECT float_id, float_id AS platform_number,
       count(DISTINCT profile_id) AS total_profiles
FROM argo_clean GROUP BY float_id
ORDER BY float_id
"""
)


def q_try_casts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5/P6 — string→numeric and string→timestamp coercion with
    invalid→null semantics (the reference's to_numeric/to_datetime
    errors='coerce', preprocess.py:226,248): every 11th value is garbage
    and must coerce to NULL, not fail the job."""
    part = load_table(spark, sf_dir, "part")
    num_s = F.when(
        F.col("p_partkey") % 11 == 0, F.lit("not-a-number")
    ).otherwise((F.col("p_retailprice") * 100).cast("long").cast("string"))
    ts_s = F.when(F.col("p_partkey") % 11 == 0, F.lit("never")).otherwise(
        F.concat(
            F.lit("2020-01-"),
            F.lpad((F.col("p_partkey") % 28 + 1).cast("string"), 2, "0"),
        )
    )
    return part.select(
        "p_partkey",
        F.try_to_number(num_s, F.lit("999999999")).cast("double").alias("as_num"),
        F.try_to_timestamp(ts_s).alias("as_ts"),
    )


_TRY_CASTS_ORACLE = """
SELECT p_partkey,
  try_cast(CASE WHEN p_partkey % 11 = 0 THEN 'not-a-number'
                ELSE CAST(CAST(p_retailprice * 100 AS BIGINT) AS STRING)
           END AS DOUBLE) AS as_num,
  try_cast(CASE WHEN p_partkey % 11 = 0 THEN 'never'
                ELSE concat('2020-01-',
                            lpad(CAST(p_partkey % 28 + 1 AS STRING), 2, '0'))
           END AS TIMESTAMP) AS as_ts
FROM part
"""


def q_doc_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish pre-tokenization counts (letter/digit runs + symbols) —
    the tokenizer-facing half of token accounting for an LLM corpus."""
    from floatchat_datapipeline_spark.functions import textstats as T

    docs = load_table(spark, sf_dir, "documents")
    toks = T.bpe_tokens("text")
    return docs.select(
        "doc_id",
        T.bpe_token_count("text").alias("n_bpe_tokens"),
        F.size(F.array_distinct(toks)).alias("n_unique_bpe"),
        # try_: an EMPTY document has zero pre-tokens, and ANSI
        # element_at aborts on the out-of-bounds index where DuckDB's
        # list indexing yields NULL — try_element_at matches the oracle.
        F.try_element_at(toks, F.lit(1)).alias("first_token"),
    )


_DOC_BPE_TOKENS_ORACLE = """
SELECT doc_id,
  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS INT)
    AS n_bpe_tokens,
  CAST(len(list_distinct(
      regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))) AS INT)
    AS n_unique_bpe,
  regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')[1] AS first_token
FROM documents
"""


def q_vocab_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L17 — the first step of BPE tokenizer training: corpus-wide counts
    of ADJACENT pre-token pairs, the merge candidates (Sennrich et al.
    2016 §3.2). Pair construction is the shingle idiom over the pre-token
    array — sequence/transform inside codegen, split evaluated once via
    the wrapper-array binding (word_shingles' rule) — so the only shuffle
    is the partial-aggregated pair count, and the top-k is a TakeOrdered
    heap. Iterating merge → re-count is the full training loop; one
    round is the shape (each further round is the same plan over the
    merged token array)."""
    from floatchat_datapipeline_spark.functions.textstats import bpe_tokens
    from floatchat_datapipeline_spark.plans.scale import rebalance

    docs = rebalance(
        load_table(spark, sf_dir, "documents").select("text")
    )

    def pairs(toks):
        k = F.size(toks) - F.lit(1)
        idx = F.when(k >= 1, F.sequence(F.lit(1), k)).otherwise(
            F.array().cast("array<int>")
        )
        return F.transform(
            idx,
            lambda i: F.concat_ws(
                " ", F.element_at(toks, i), F.element_at(toks, i + 1)
            ),
        )

    pair_col = F.element_at(
        F.transform(
            F.array(F.struct(bpe_tokens("text").alias("t"))),
            lambda s: pairs(s["t"]),
        ),
        1,
    )
    return (
        docs.select(F.explode(pair_col).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(20)
    )


_VOCAB_BPE_MERGES_ORACLE = """
WITH toks AS (
  SELECT regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]') AS t
  FROM documents
)
SELECT pair, count(*) AS n FROM (
  SELECT unnest([t[i] || ' ' || t[i+1]
                 for i in generate_series(1, len(t) - 1)]) AS pair
  FROM toks
)
GROUP BY pair
ORDER BY n DESC, pair
LIMIT 20
"""


def q_doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A21 — equi-width length histogram per source (bucket = 64 chars):
    the packing-efficiency telemetry a sequence-packing stage (L9) is
    tuned against. Pure integer floor-division bucketing — one
    partial-aggregable groupBy, output bounded by n_sources × n_buckets.
    The equi-DEPTH twin is source_quantiles (A9); together they are the
    two standard corpus-length views."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.floor(F.col("n_chars") / 64) * 64
    return (
        docs.select("source", bucket.alias("bucket_lo"))
        .groupBy("source", "bucket_lo")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("source", "bucket_lo")
    )


_DOC_LENGTH_HISTOGRAM_ORACLE = """
SELECT source,
       (n_chars // 64) * 64 AS bucket_lo,
       count(*) AS n_docs
FROM documents
GROUP BY source, (n_chars // 64) * 64
ORDER BY source, bucket_lo
"""


def q_lakehouse_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A22 — cross-table constraint audit (the dbt-tests / Deequ role):
    referential integrity, key nullability, domain ranges — each check a
    pushed-down count, unioned into one (check, n_violations) report.
    Every leg scans only the columns its predicate needs; the FK check is
    a broadcast-anti count, not a join materialization. The reference
    logs ad-hoc run summaries (main.py); this is that as a declarative,
    schedulable query."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    events = load_table(spark, sf_dir, "events")
    docs = load_table(spark, sf_dir, "documents")

    def count_df(name, df):
        return df.agg(F.count(F.lit(1)).alias("n_violations")).select(
            F.lit(name).alias("check"), "n_violations"
        )

    orphan_li = li.select("l_orderkey").join(
        orders.select("o_orderkey"),
        F.col("l_orderkey") == F.col("o_orderkey"),
        "left_anti",
    )
    checks = [
        count_df("lineitem_orphan_orderkey", orphan_li),
        count_df("lineitem_null_partkey", li.filter(F.col("l_partkey").isNull())),
        count_df(
            "lineitem_nonpositive_price",
            li.filter(F.col("l_extendedprice") <= 0),
        ),
        count_df(
            "lineitem_discount_out_of_range",
            li.filter(~F.col("l_discount").between(0.0, 0.5)),
        ),
        count_df(
            "orders_null_custkey", orders.filter(F.col("o_custkey").isNull())
        ),
        count_df(
            "events_ts_out_of_range",
            events.filter(
                (F.col("ts") < "2020-01-01") | (F.col("ts") >= "2031-01-01")
            ),
        ),
        count_df("documents_empty_text", docs.filter(F.length("text") == 0)),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out.orderBy("check")


_LAKEHOUSE_QUALITY_AUDIT_ORACLE = """
SELECT * FROM (
  SELECT 'lineitem_orphan_orderkey' AS check, count(*) AS n_violations
  FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
  UNION ALL
  SELECT 'lineitem_null_partkey', count(*) FROM lineitem WHERE l_partkey IS NULL
  UNION ALL
  SELECT 'lineitem_nonpositive_price', count(*)
  FROM lineitem WHERE l_extendedprice <= 0
  UNION ALL
  SELECT 'lineitem_discount_out_of_range', count(*)
  FROM lineitem WHERE NOT (l_discount BETWEEN 0.0 AND 0.5)
  UNION ALL
  SELECT 'orders_null_custkey', count(*) FROM orders WHERE o_custkey IS NULL
  UNION ALL
  SELECT 'events_ts_out_of_range', count(*)
  FROM events WHERE ts < TIMESTAMP '2020-01-01' OR ts >= TIMESTAMP '2031-01-01'
  UNION ALL
  SELECT 'documents_empty_text', count(*) FROM documents WHERE len(text) = 0
)
ORDER BY "check"
"""


def q_corpus_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed LLM training-data selection pipeline: exact-dedup
    keepers ∧ quality threshold ∧ language filter — the operators other
    queries check individually, chained the way a production corpus run
    chains them (dedup → quality gate → lang gate)."""
    from floatchat_datapipeline_spark.functions import textstats as T
    from floatchat_datapipeline_spark.operators.dedup import exact_dedup_groups

    docs = load_table(spark, sf_dir, "documents")
    keepers = exact_dedup_groups(docs).select(
        F.col("keeper_id").alias("doc_id")
    )
    scored = docs.join(keepers, "doc_id").select(
        "doc_id",
        T.quality_score("text").alias("quality_score"),
        T.lang_id("text").alias("predicted_lang"),
    )
    return scored.filter(
        (F.col("quality_score") >= 0.7) & (F.col("predicted_lang") == "en")
    ).select("doc_id", "quality_score")


_CORPUS_SELECTION_ORACLE = """
WITH keepers AS (
  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(lower(trim(text)))
), base AS (
  SELECT d.doc_id, string_split(text, ' ') AS toks,
    CAST(length(text) - length(replace(text, ' ', '')) + 1 AS INT) AS n
  FROM documents d JOIN keepers k ON d.doc_id = k.doc_id
), scored AS (
  SELECT doc_id, n,
    round(len(list_filter(toks, x -> x IN ('a','the','of','and','is')))::DOUBLE
          / n, 4) AS sw,
    round(len(list_distinct(toks))::DOUBLE / n, 4) AS ttr,
    len(list_filter(toks, x -> x IN ('the','a','of','and','is'))) AS s_en,
    len(list_filter(toks, x -> x IN ('la','el','de','que','y'))) AS s_es,
    len(list_filter(toks, x -> x IN ('der','die','das','und','ist'))) AS s_de,
    len(list_filter(toks, x -> x IN ('le','la','les','et','est'))) AS s_fr,
    len(list_filter(toks, x -> x IN ('de','le','shi','he','zai'))) AS s_zh
  FROM base
), final AS (
  SELECT doc_id,
    round((least(n / 50e0, 1e0) + ttr
           + CASE WHEN sw > 0.01 AND sw < 0.5 THEN 1e0 ELSE 0.5e0 END)
          / 3e0, 4) AS quality_score,
    CASE WHEN greatest(s_en, s_es, s_de, s_fr, s_zh) = 0 THEN 'unknown'
         WHEN s_en = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'en'
         WHEN s_es = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'es'
         WHEN s_de = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'de'
         WHEN s_fr = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'fr'
         ELSE 'zh' END AS predicted_lang
  FROM scored
)
SELECT doc_id, quality_score FROM final
WHERE quality_score >= 0.7 AND predicted_lang = 'en'
"""


# ---------------------------------------------------------------------------
# Multimodal binary columns (north-star): metadata sniffing + frame UDTF
# ---------------------------------------------------------------------------

_SYNTH_MEDIA_SQL = r"""
media AS (
  SELECT doc_id,
         (CASE CAST(doc_id % 3 AS INT)
            WHEN 0 THEN '\x89PNG' WHEN 1 THEN 'RIFF' ELSE '' END)::BLOB
         || encode(text) AS content
  FROM documents
)
"""


def q_media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column metadata: magic-byte sniffing (real), byte length,
    digest. Oracle derives the type from the synthesis rule — equality
    proves the sniffer reads the right bytes."""
    from floatchat_datapipeline_spark.operators.multimodal import (
        media_metadata,
        synth_media,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return media_metadata(synth_media(docs))


_MEDIA_METADATA_ORACLE = f"""
WITH {_SYNTH_MEDIA_SQL}
SELECT doc_id,
       CASE CAST(doc_id % 3 AS INT)
         WHEN 0 THEN 'png' WHEN 1 THEN 'wav' ELSE 'raw' END AS media_type,
       CAST(octet_length(content) AS INT) AS n_bytes,
       md5(hex(content)) AS content_digest
FROM media
"""


def q_media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas frame sampler (1→N UDTF shape) over synthetic media."""
    from floatchat_datapipeline_spark.operators.multimodal import (
        sample_frames,
        synth_media,
    )
    from floatchat_datapipeline_spark.plans.scale import rebalance

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return sample_frames(rebalance(synth_media(docs)))


_MEDIA_FRAMES_ORACLE = f"""
WITH {_SYNTH_MEDIA_SQL},
sized AS (
  SELECT doc_id, base64(content) AS b64,
         octet_length(content) % 7 + 1 AS n_frames
  FROM media
)
SELECT doc_id, CAST(u.f AS INT) AS frame_idx,
       md5(b64 || '_' || CAST(u.f AS STRING)) AS frame_key
FROM sized, LATERAL (SELECT unnest(generate_series(0, n_frames - 1)) AS f) u
"""


def _netcdf_oracle() -> str:
    from floatchat_datapipeline_spark.sources.fixtures import (
        expected_rows_oracle_sql,
    )

    return expected_rows_oracle_sql()


_NETCDF_INGEST_ORACLE = _netcdf_oracle()


def q_stream_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling window over streamed events. Projection drops
    the approx-distinct column (HLL has no cross-engine oracle)."""
    from floatchat_datapipeline_spark.streaming.run import materialize
    from floatchat_datapipeline_spark.streaming.sources import stream_table
    from floatchat_datapipeline_spark.streaming.windows import (
        hourly_rollup_stream,
    )

    out = materialize(
        hourly_rollup_stream(stream_table(spark, sf_dir, "events")),
        "q_stream_hourly",
    )
    return out.select("hour", "event_type", "n_events", "sum_value")


_STREAM_HOURLY_ORACLE = """
SELECT date_trunc('hour', ts) AS hour, event_type,
       count(*) AS n_events,
       round(sum(value), 2) AS sum_value
FROM events GROUP BY 1, 2
"""


def q_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session_window with watermark state eviction."""
    from floatchat_datapipeline_spark.streaming.run import materialize
    from floatchat_datapipeline_spark.streaming.sources import stream_table
    from floatchat_datapipeline_spark.streaming.windows import (
        session_window_stream,
    )

    return materialize(
        session_window_stream(stream_table(spark, sf_dir, "events")),
        "q_stream_sessions",
    )


# session_window starts a NEW session when the gap equals the timeout
# exactly (half-open [start, end) windows) — hence >= in microseconds,
# where the batch sessionize oracle uses a strict >.
_STREAM_SESSIONS_ORACLE = """
WITH flagged AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT *, sum(new_session) OVER w AS session_seq
  FROM flagged
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, min(ts) AS session_start, max(ts) AS session_last_ts,
       count(*) AS n_events, round(sum(value), 2) AS sum_value
FROM numbered GROUP BY user_id, session_seq
"""


def q_stream_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-user running
    totals, emitted per update."""
    from floatchat_datapipeline_spark.streaming.run import materialize
    from floatchat_datapipeline_spark.streaming.sources import stream_table
    from floatchat_datapipeline_spark.streaming.windows import (
        user_stats_stateful,
    )

    return materialize(
        user_stats_stateful(stream_table(spark, sf_dir, "events")),
        "q_stream_user_stats",
        output_mode="update",
    )


_STREAM_USER_STATS_ORACLE = """
SELECT user_id, count(*) AS n_events,
       round(sum(value), 2) AS sum_value,
       max(ts) AS last_ts
FROM events GROUP BY user_id
"""


def q_stream_ewma_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S16 — streaming EWMA control chart (TS8's twin): the tracker is
    one double of GroupState per user; anomalies emit as events arrive
    (streaming/windows.ewma_anomaly_stream). Identical recurrence and
    arithmetic as the batch operator, so the SAME recursive-CTE oracle
    value-checks the stream."""
    from floatchat_datapipeline_spark.streaming.run import materialize
    from floatchat_datapipeline_spark.streaming.sources import stream_table
    from floatchat_datapipeline_spark.streaming.windows import (
        ewma_anomaly_stream,
    )

    return materialize(
        ewma_anomaly_stream(stream_table(spark, sf_dir, "events")),
        "q_stream_ewma_anomaly",
        output_mode="update",
    )


def q_stream_type_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S14 — Spark 4 transformWithStateInPandas: per-(user, event_type)
    running counters in a typed MapState (exact integer cents), emitted
    per update (streaming/windows.type_counters_tws). The batch GROUP BY
    is the oracle because the harness source replays the full backlog."""
    from floatchat_datapipeline_spark.streaming.run import materialize
    from floatchat_datapipeline_spark.streaming.sources import stream_table
    from floatchat_datapipeline_spark.streaming.windows import (
        type_counters_tws,
    )

    return materialize(
        type_counters_tws(stream_table(spark, sf_dir, "events")),
        "q_stream_type_counters",
        output_mode="update",
    )


_STREAM_TYPE_COUNTERS_ORACLE = """
SELECT user_id, event_type, count(*) AS n_events,
       sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS sum_value
FROM events GROUP BY user_id, event_type
"""


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup with watermark-bounded state; event_ids are
    unique in the corpus, so the output is the full event set."""
    from floatchat_datapipeline_spark.streaming.run import materialize
    from floatchat_datapipeline_spark.streaming.sources import stream_table
    from floatchat_datapipeline_spark.streaming.windows import dedup_stream

    return materialize(
        dedup_stream(stream_table(spark, sf_dir, "events")),
        "q_stream_dedup",
        output_mode="append",
    )


_STREAM_DEDUP_ORACLE = "SELECT * FROM events"


# ---------------------------------------------------------------------------
# Time-series joins over events (parity-plus TS1-TS3, SURVEY.md §2.14)
# ---------------------------------------------------------------------------


def q_events_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS1 — as-of join: every click gets the latest at-or-before view of
    the same user (union-merge: ONE shuffle by user, cumulative
    last(ignorenulls) — never a range self-join)."""
    from floatchat_datapipeline_spark.operators.timeseries import asof_join

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts", "value"
    )
    return asof_join(
        clicks,
        views,
        on="user_id",
        ts_col="ts",
        payload_cols=("value",),
        right_order_col="event_id",
        payload_prefix="view_",
    )


def q_events_asof_cogrouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 — the TS1 as-of join as a COGROUPED Pandas operator
    (cogroup().applyInPandas + pandas.merge_asof per key): the custom-
    operator template for per-key logic with no window-function
    equivalent. Identical semantics to events_asof, so the same oracle
    value-checks both; the union-merge form stays the scale default."""
    from floatchat_datapipeline_spark.operators.timeseries import (
        asof_join_cogrouped,
    )

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts", "value"
    )
    return asof_join_cogrouped(
        clicks,
        views,
        on="user_id",
        ts_col="ts",
        payload_cols=("value",),
        right_order_col="event_id",
        payload_prefix="view_",
    )


_EVENTS_ASOF_ORACLE = """
WITH u AS (
  SELECT user_id, ts AS sort_ts, 0 AS side, event_id AS ord,
         ts AS p_ts, value AS p_value,
         CAST(NULL AS BIGINT) AS event_id, CAST(NULL AS TIMESTAMP) AS ts,
         CAST(NULL AS DOUBLE) AS value
  FROM events WHERE event_type = 'view'
  UNION ALL
  SELECT user_id, ts, 1, 0,
         CAST(NULL AS TIMESTAMP), CAST(NULL AS DOUBLE),
         event_id, ts, value
  FROM events WHERE event_type = 'click'
), c AS (
  SELECT event_id, user_id, ts, value, side,
         last_value(p_ts IGNORE NULLS) OVER w AS view_ts,
         last_value(p_value IGNORE NULLS) OVER w AS view_value
  FROM u
  WINDOW w AS (PARTITION BY user_id ORDER BY sort_ts, side, ord
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id, ts, value, view_ts, view_value
FROM c WHERE side = 1
"""


def q_error_click_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS2 — binned range join: per error event, count/sum the same
    user's clicks in the following 10 minutes. Equi-join on
    (user, time-bin) with the error side exploded to its ≤2 overlapping
    bins — the interval-join binning trick; never a theta join."""
    from floatchat_datapipeline_spark.operators.timeseries import (
        binned_range_agg,
    )

    ev = load_table(spark, sf_dir, "events")
    return binned_range_agg(
        ev.filter(F.col("event_type") == "error"),
        ev.filter(F.col("event_type") == "click"),
        on="user_id",
        window_seconds=600,
    )


_ERROR_CLICK_WINDOW_ORACLE = """
SELECT e.event_id, e.user_id,
       count(c.ts) AS n_matches,
       COALESCE(CAST(sum(CAST(round(c.value * 100, 0) AS BIGINT)) AS BIGINT),
                0) AS value_cents
FROM events e LEFT JOIN events c
  ON c.user_id = e.user_id AND c.event_type = 'click'
 AND c.ts >= e.ts AND c.ts < e.ts + INTERVAL 600 SECOND
WHERE e.event_type = 'error'
GROUP BY e.event_id, e.user_id
"""


def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS3 — ordered conversion funnel view→click→purchase per user:
    stage i counts only at-or-after the user's stage i-1 time."""
    from floatchat_datapipeline_spark.operators.timeseries import event_funnel

    return event_funnel(load_table(spark, sf_dir, "events"))


_EVENT_FUNNEL_ORACLE = """
WITH s1 AS (
  SELECT user_id, min(ts) AS view_ts
  FROM events WHERE event_type = 'view' GROUP BY user_id
), s2 AS (
  SELECT e.user_id, min(e.ts) AS click_ts
  FROM events e JOIN s1 ON e.user_id = s1.user_id AND e.ts >= s1.view_ts
  WHERE e.event_type = 'click' GROUP BY e.user_id
), s3 AS (
  SELECT e.user_id, min(e.ts) AS purchase_ts
  FROM events e JOIN s2 ON e.user_id = s2.user_id AND e.ts >= s2.click_ts
  WHERE e.event_type = 'purchase' GROUP BY e.user_id
)
SELECT s1.user_id, view_ts, click_ts, purchase_ts
FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
"""


# ---------------------------------------------------------------------------
# Corpus selection / training-data prep (parity-plus L1-L5, SURVEY.md §2.14)
# ---------------------------------------------------------------------------


def q_doc_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1 — deterministic hash train/valid/test split (80/10/10): map-only,
    stable under corpus growth (membership depends only on the id)."""
    from floatchat_datapipeline_spark.operators.sampling import (
        train_test_split,
    )

    docs = load_table(spark, sf_dir, "documents")
    return train_test_split(docs).select(
        "doc_id", "lang", "source", "bucket", "split"
    )


_DOC_TRAIN_SPLIT_ORACLE = """
SELECT doc_id, lang, source,
  CAST(CAST('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15)
       AS BIGINT) % 100 AS INT) AS bucket,
  CASE
    WHEN CAST('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15)
         AS BIGINT) % 100 < 80 THEN 'train'
    WHEN CAST('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15)
         AS BIGINT) % 100 < 90 THEN 'valid'
    ELSE 'test'
  END AS split
FROM documents
"""


_SAMPLE_RATES = {"src0": 80, "src1": 50, "src2": 25}


def q_doc_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 — per-source deterministic sampling (corpus mixing): keep
    hash(source:id) mod 100 < rate[source], rate folded into one CASE
    expression — map-only, no join."""
    from floatchat_datapipeline_spark.operators.sampling import (
        stratified_sample,
    )

    docs = load_table(spark, sf_dir, "documents")
    return stratified_sample(docs, _SAMPLE_RATES, default_pct=10).select(
        "doc_id", "source", "sample_bucket"
    )


_DOC_STRATIFIED_SAMPLE_ORACLE = """
WITH b AS (
  SELECT doc_id, source,
    CAST(CAST('0x' || substr(
           md5('sample:' || source || ':' || CAST(doc_id AS VARCHAR)), 1, 15)
         AS BIGINT) % 100 AS INT) AS sample_bucket
  FROM documents
)
SELECT doc_id, source, sample_bucket FROM b
WHERE sample_bucket < CASE source WHEN 'src0' THEN 80 WHEN 'src1' THEN 50
                                  WHEN 'src2' THEN 25 ELSE 10 END
"""


def q_doc_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3 — sequence packing: docs laid end-to-end in id order within each
    lang shard; pack = the 2048-token block where the doc's first token
    lands. One shuffle by shard, windows never cross shards."""
    from floatchat_datapipeline_spark.operators.sampling import pack_sequences

    return pack_sequences(load_table(spark, sf_dir, "documents"))


_DOC_PACK_SEQUENCES_ORACLE = """
WITH t AS (
  SELECT doc_id, lang AS shard,
         CAST(length(text) - length(replace(text, ' ', '')) + 1 AS INT)
           AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, shard, n_tokens,
         CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS e
  FROM t
)
SELECT doc_id, shard, n_tokens,
       (e - n_tokens) // 2048 AS pack_id,
       (e - n_tokens) % 2048 AS pack_offset
FROM c
"""

_EMAIL_RE = "[a-z0-9.]+@[a-z0-9.]+"
_PHONE_RE = "[0-9]{3}-[0-9]{4}"


def q_doc_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4 — PII scrubbing: count and redact email/phone patterns. The
    corpus is synthetic alpha words, so a deterministic contact string
    derived from doc_id is appended first — the point under test is the
    regex engine parity and the redaction plan, which is map-only."""
    docs = load_table(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example or 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    red = F.regexp_replace(
        F.regexp_replace(aug, _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
    )
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(aug, F.lit(_EMAIL_RE), F.lit(0))).alias(
            "n_emails"
        ),
        F.size(F.regexp_extract_all(aug, F.lit(_PHONE_RE), F.lit(0))).alias(
            "n_phones"
        ),
        F.md5(red).alias("red_hash"),
        F.length(red).alias("red_len"),
    )


_DOC_PII_REDACT_ORACLE = f"""
WITH a AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@mail.example or 555-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS aug
  FROM documents
)
SELECT doc_id,
  CAST(len(regexp_extract_all(aug, '{_EMAIL_RE}')) AS INT) AS n_emails,
  CAST(len(regexp_extract_all(aug, '{_PHONE_RE}')) AS INT) AS n_phones,
  md5(regexp_replace(regexp_replace(aug, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                     '{_PHONE_RE}', '<PHONE>', 'g')) AS red_hash,
  CAST(length(regexp_replace(regexp_replace(aug, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                             '{_PHONE_RE}', '<PHONE>', 'g')) AS INT) AS red_len
FROM a
"""

_BM25_TERMS = ("hash", "join", "scan")


def _bm25_scored(docs: DataFrame) -> DataFrame:
    """Every doc's BM25 (k1=1.2, b=0.75) for the fixed `_BM25_TERMS`
    query: per-term tf as a map-side array expression, corpus stats
    (N, avgdl, df) as ONE global aggregate broadcast back, score as a
    pure column formula in fixed term order. Shared by `doc_bm25`
    (top-10) and `doc_hybrid_rrf` (lexical leg).

    Parity: idf is rounded to 7dp (ln may differ in the last ulp across
    engines), each term's score to 6dp, the sum to 6dp — both sides
    compute the identical expression tree."""
    from floatchat_datapipeline_spark.functions import textstats as T

    def tf(word: str):
        # NB: a two-parameter lambda in F.filter means (element, index) —
        # a `_w=word` default arg would silently bind `_w` to the index.
        return F.size(F.filter(F.col("_toks"), lambda t: t == F.lit(word)))

    # Bind split() once: _toks is multi-referenced (one tf per query term)
    # and non-cheap, so CollapseProject keeps the projection boundary and
    # each row tokenizes ONCE instead of once per term.
    sel = docs.select(
        "doc_id",
        T.token_count("text").cast("double").alias("dl"),
        T.tokens("text").alias("_toks"),
    ).select(
        "doc_id",
        "dl",
        *[tf(w).cast("double").alias(f"tf_{w}") for w in _BM25_TERMS],
    )
    stats = sel.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.sum((F.col(f"tf_{w}") > 0).cast("int"))
            .cast("double")
            .alias(f"df_{w}")
            for w in _BM25_TERMS
        ],
    )
    j = sel.crossJoin(F.broadcast(stats))
    avgdl = F.col("sum_dl") / F.col("n")

    def term_score(w: str):
        tf, df = F.col(f"tf_{w}"), F.col(f"df_{w}")
        idf = F.round(
            F.log(F.lit(1.0) + (F.col("n") - df + 0.5) / (df + 0.5)), 7
        )
        return F.round(
            idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * F.col("dl") / avgdl)),
            6,
        )

    score = term_score(_BM25_TERMS[0])
    for w in _BM25_TERMS[1:]:
        score = score + term_score(w)
    return j.select("doc_id", F.round(score, 6).alias("bm25"))


def q_doc_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5 — BM25 retrieval scoring for the fixed query; top-10
    (see `_bm25_scored` for the plan and parity notes)."""
    return (
        _bm25_scored(load_table(spark, sf_dir, "documents"))
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(10)
    )


def _bm25_scored_sql() -> str:
    """DuckDB CTE chain ending in `lexall(doc_id, bm25)` — the oracle
    twin of `_bm25_scored` (shared by the bm25 and hybrid-RRF oracles)."""
    tf_cols = ",\n    ".join(
        f"CAST(len(list_filter(string_split(text, ' '), t -> t = '{w}'))"
        f" AS DOUBLE) AS tf_{w}"
        for w in _BM25_TERMS
    )
    df_cols = ",\n    ".join(
        f"CAST(sum(CASE WHEN tf_{w} > 0 THEN 1 ELSE 0 END) AS DOUBLE)"
        f" AS df_{w}"
        for w in _BM25_TERMS
    )
    terms = " + ".join(
        f"round(round(ln(1.0 + (n - df_{w} + 0.5) / (df_{w} + 0.5)), 7)"
        f" * (tf_{w} * 2.2)"
        f" / (tf_{w} + 1.2 * (0.25 + 0.75 * dl / (sum_dl / n))), 6)"
        for w in _BM25_TERMS
    )
    return f"""d AS (
  SELECT doc_id,
    CAST(length(text) - length(replace(text, ' ', '')) + 1 AS DOUBLE) AS dl,
    {tf_cols}
  FROM documents
), s AS (
  SELECT CAST(count(*) AS DOUBLE) AS n, sum(dl) AS sum_dl,
    {df_cols}
  FROM d
), lexall AS (
  SELECT doc_id, round({terms}, 6) AS bm25 FROM d, s
)"""


_DOC_BM25_ORACLE = f"""
WITH {_bm25_scored_sql()}
SELECT doc_id, bm25 FROM lexall
ORDER BY bm25 DESC, doc_id
LIMIT 10
"""


_RRF_K = 60
_RRF_DEPTH = 50


def q_doc_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval — reciprocal-rank fusion of the BM25 lexical leg
    (L5) and the stub-encoder cosine leg (O3/V7) for the same query
    intent: rrf = Σ 1/(60 + rank) over the lists a doc appears in
    (Cormack et al. 2009), top-10 fused.

    Scale shape: each leg ends in a TakeOrderedAndProject top-50 — the
    global candidate set is ALWAYS ≤ 2·depth rows regardless of corpus
    size, so the rank windows and the full-outer fuse join run on a
    driver-trivial frame; the corpus is scanned once per leg. 1/(60+r)
    is an exact double quotient of small ints — bit-identical across
    engines, no rounding needed."""
    from pyspark.sql import Window

    from floatchat_datapipeline_spark.embeddings.search import semantic_search

    docs = load_table(spark, sf_dir, "documents")
    lex = (
        _bm25_scored(docs)
        .filter(F.col("bm25") > 0)
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(_RRF_DEPTH)
        .withColumn(
            "r_lex",
            F.row_number().over(Window.orderBy(F.desc("bm25"), "doc_id")),
        )
    )
    vec = (
        semantic_search(
            docs.select("doc_id", "text"),
            " ".join(_BM25_TERMS),
            k=_RRF_DEPTH,
        )
        .filter(F.col("score") > 0)
        .withColumn(
            "r_vec",
            F.row_number().over(Window.orderBy(F.desc("score"), "doc_id")),
        )
    )
    one = F.lit(1.0)
    zero = F.lit(0.0)
    return (
        lex.select("doc_id", "r_lex")
        .join(vec.select("doc_id", "r_vec"), "doc_id", "full")
        .select(
            "doc_id",
            F.col("r_lex").cast("int").alias("r_lex"),
            F.col("r_vec").cast("int").alias("r_vec"),
            (
                F.coalesce(one / (F.lit(_RRF_K) + F.col("r_lex")), zero)
                + F.coalesce(one / (F.lit(_RRF_K) + F.col("r_vec")), zero)
            ).alias("rrf"),
        )
        .orderBy(F.desc("rrf"), "doc_id")
        .limit(10)
    )


def _hybrid_rrf_oracle() -> str:
    from floatchat_datapipeline_spark.embeddings.encoder import stub_encoder_sql

    q = " ".join(_BM25_TERMS)
    return f"""
WITH {stub_encoder_sql("text", "documents", "doc_id")},
{_bm25_scored_sql()},
lex AS (
  SELECT doc_id, bm25 FROM lexall WHERE bm25 > 0
  ORDER BY bm25 DESC, doc_id LIMIT {_RRF_DEPTH}
),
lexr AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r_lex
  FROM lex
),
qtok AS (SELECT unnest(string_split('{q}', ' ')) AS tok),
qb AS (
  SELECT CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) % 64 AS bucket,
         count(*) AS c
  FROM qtok GROUP BY 1
),
qn AS (SELECT sqrt(sum(CAST(c * c AS DOUBLE))) AS nrm FROM qb),
qv AS (SELECT bucket, CAST(c AS DOUBLE) / (SELECT nrm FROM qn) AS w FROM qb),
vscores AS (
  SELECT v._id AS doc_id, round(sum(v.w * qv.w), 6) AS score
  FROM _vec v JOIN qv USING (bucket)
  GROUP BY 1
),
vec AS (
  SELECT doc_id, score FROM vscores WHERE score > 0
  ORDER BY score DESC, doc_id LIMIT {_RRF_DEPTH}
),
vecr AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY score DESC, doc_id) AS r_vec
  FROM vec
)
SELECT doc_id,
       CAST(r_lex AS INT) AS r_lex,
       CAST(r_vec AS INT) AS r_vec,
       COALESCE(1e0 / ({_RRF_K} + r_lex), 0e0)
         + COALESCE(1e0 / ({_RRF_K} + r_vec), 0e0) AS rrf
FROM lexr FULL JOIN vecr USING (doc_id)
ORDER BY rrf DESC, doc_id
LIMIT 10
"""


_DOC_HYBRID_RRF_ORACLE = _hybrid_rrf_oracle()


# ---------------------------------------------------------------------------
# Duplicate-group closure (parity-plus D5/V8, SURVEY.md §2.14)
# ---------------------------------------------------------------------------


def q_doc_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5 — near-dup GROUPS from LSH candidate pairs: undirected
    connected components by iterative min-label propagation (a↔b, b↔c
    collapse into one cluster even though a↔c was never emitted). The
    oracle replays connectivity with a recursive CTE. The closure is the
    memoized D5 warm index (operators/dedup.dup_components): built once
    per corpus, shared with dedup-apply and the leakage-safe split."""
    from floatchat_datapipeline_spark.operators.dedup import dup_components

    return dup_components(
        load_table(spark, sf_dir, "documents"), spark, cache_key=sf_dir
    )


# Shared recursive-CTE replay of LSH pairs → connected components
# (consumed by the dup-clusters oracle and the leakage-safe split
# oracle; must follow a WITH RECURSIVE).
_DUP_COMPONENTS_SQL = f"""{_MINHASH_SIG_SQL},
keys AS (
  SELECT doc_id, CAST(seed // 4 AS INT) AS band,
         md5(string_agg(CAST(minhash AS STRING), ',' ORDER BY seed)) AS band_key
  FROM sig GROUP BY doc_id, CAST(seed // 4 AS INT)
),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM keys a JOIN keys b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
und AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach(node, lab) AS (
  SELECT src, src FROM und
  UNION
  SELECT u.dst, r.lab FROM reach r JOIN und u ON u.src = r.node
),
comp AS (
  SELECT node AS doc_id, CAST(min(lab) AS BIGINT) AS component
  FROM reach GROUP BY node
)"""

_DOC_DUP_CLUSTERS_ORACLE = f"""
WITH RECURSIVE {_DUP_COMPONENTS_SQL}
SELECT doc_id, component FROM comp
"""

_SEMDEDUP_THRESHOLD = 0.35


def q_emb_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V8 — SemDedup (Abbas et al. 2023): cluster the embedding space
    with the (cached) trained IVF quantizer, mark vectors whose cosine to
    a lower-id cluster-mate is ≥ τ as duplicates. τ=0.35 on the synthetic
    embeddings (their cosine scale is lower than real sentence encoders,
    where ~0.95 is typical)."""
    from floatchat_datapipeline_spark.operators.clusters import semdedup

    return semdedup(
        load_table(spark, sf_dir, "embeddings"),
        threshold=_SEMDEDUP_THRESHOLD,
        cache_key=f"{sf_dir}/embeddings.parquet",
    )


def _semdedup_oracle(threshold: float = _SEMDEDUP_THRESHOLD) -> str:
    cos = _COS_SQL.format(a="a.vec", b="b.vec")
    # k = max(8, floor(sqrt(N))) — the exact formula the Spark side uses
    # (math.isqrt on the corpus count), expressed as a scalar subquery so
    # the oracle derives it from the same table at whatever SF the driver
    # runs. IEEE sqrt is correctly rounded, so floor(sqrt(bigint)) ==
    # isqrt for any realistic corpus size.
    dyn_k = (
        "(SELECT greatest(8, CAST(floor(sqrt(count(*))) AS INT))"
        " FROM embeddings)"
    )
    return (
        "WITH "
        + _kmeans_replay_sql(k=dyn_k)
        + f""", dups AS (
  SELECT DISTINCT b.vec_id AS dup_id
  FROM af a JOIN af b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  WHERE {cos} >= {threshold}
)
SELECT a.vec_id, a.cluster,
       a.vec_id NOT IN (SELECT dup_id FROM dups) AS is_kept
FROM af a
"""
    )


_EMB_SEMDEDUP_ORACLE = _semdedup_oracle()


# ---------------------------------------------------------------------------
# Corpus hygiene / chunking / gap-fill (parity-plus L6-L8, TS4, SURVEY §2.14)
# ---------------------------------------------------------------------------

# DuckDB rendering of the 5-word shingle list (Spark twin:
# functions/textstats.word_shingles(text, 5)); NOT distinct — the
# consumers dedup as needed.
_SHINGLES_5_SQL = """
[t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4]
 for i in generate_series(1, len(t)-4)]
"""


def q_doc_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L6 — benchmark decontamination: training docs (doc_id % 20 != 0)
    sharing any 5-gram with the holdout slice (doc_id % 20 == 0) are
    flagged. The eval shingle set is DISTINCT-collapsed then broadcast —
    the train side never shuffles."""
    from floatchat_datapipeline_spark.operators.decontam import (
        ngram_decontaminate,
    )

    docs = load_table(spark, sf_dir, "documents")
    return ngram_decontaminate(
        docs.filter(F.col("doc_id") % 20 != 0),
        docs.filter(F.col("doc_id") % 20 == 0),
    )


_DOC_DECONTAMINATE_ORACLE = f"""
WITH ev AS (
  SELECT DISTINCT {_MD5_LONG_SQL.format(x='s')} AS h
  FROM (SELECT unnest({_SHINGLES_5_SQL}) AS s
        FROM (SELECT string_split(text, ' ') t FROM documents
              WHERE doc_id % 20 = 0))
), tr AS (
  SELECT doc_id, {_MD5_LONG_SQL.format(x='s')} AS h
  FROM (SELECT doc_id, unnest({_SHINGLES_5_SQL}) AS s
        FROM (SELECT doc_id, string_split(text, ' ') t FROM documents
              WHERE doc_id % 20 <> 0))
), hits AS (
  SELECT doc_id, count(DISTINCT h) AS n_shared
  FROM tr JOIN ev USING (h) GROUP BY doc_id
)
SELECT d.doc_id, CAST(COALESCE(n_shared, 0) AS BIGINT) AS n_shared,
       n_shared IS NOT NULL AS contaminated
FROM (SELECT doc_id FROM documents WHERE doc_id % 20 <> 0) d
LEFT JOIN hits USING (doc_id)
"""


def q_doc_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L6 scale path — bloom-filter decontamination: same train/holdout
    split as `doc_decontaminate`, but the holdout shingle set is packed
    into a 65,536-bit bloom filter (m/64 = 1,024 longs) and the train
    side is probed MAP-ONLY — no join, no shuffle at all on the 100 TB
    side. Double hashing uses the cross-engine md5 long, so the oracle
    replays the exact filter bit-for-bit (false positives included)."""
    from floatchat_datapipeline_spark.operators.decontam import (
        bloom_build,
        bloom_decontaminate,
    )

    docs = load_table(spark, sf_dir, "documents")
    words = bloom_build(docs.filter(F.col("doc_id") % 20 == 0))
    return bloom_decontaminate(docs.filter(F.col("doc_id") % 20 != 0), words)


# Deterministic replay of the bloom filter: same md5 double-hash, same
# m=65536/k=4, so flags match Spark's bit-for-bit (FPs included).
_BLOOM_H1 = _MD5_LONG_SQL.format(x="s")
_BLOOM_H2 = _MD5_LONG_SQL.format(x="'bloom:' || s")

_DOC_BLOOM_DECONTAMINATE_ORACLE = f"""
WITH ev AS (
  SELECT DISTINCT s
  FROM (SELECT unnest({_SHINGLES_5_SQL}) AS s
        FROM (SELECT string_split(text, ' ') t FROM documents
              WHERE doc_id % 20 = 0))
), ks AS (SELECT unnest(generate_series(0, 3)) AS i),
bits AS (
  SELECT DISTINCT (h1 + i * h2) % 65536 AS pos
  FROM (SELECT {_BLOOM_H1} AS h1, {_BLOOM_H2} AS h2 FROM ev), ks
), tr AS (
  SELECT DISTINCT doc_id, s
  FROM (SELECT doc_id, unnest({_SHINGLES_5_SQL}) AS s
        FROM (SELECT doc_id, string_split(text, ' ') t FROM documents
              WHERE doc_id % 20 <> 0))
), probe AS (
  SELECT doc_id, s, (h1 + i * h2) % 65536 AS pos
  FROM (SELECT doc_id, s, {_BLOOM_H1} AS h1, {_BLOOM_H2} AS h2 FROM tr), ks
), flagged AS (
  SELECT doc_id, s
  FROM probe p LEFT JOIN bits b ON p.pos = b.pos
  GROUP BY doc_id, s
  HAVING bool_and(b.pos IS NOT NULL)
), hits AS (
  SELECT doc_id, count(*) AS n_flagged FROM flagged GROUP BY doc_id
)
SELECT d.doc_id, CAST(COALESCE(h.n_flagged, 0) AS BIGINT) AS n_flagged,
       h.n_flagged IS NOT NULL AS contaminated
FROM (SELECT doc_id FROM documents WHERE doc_id % 20 <> 0) d
LEFT JOIN hits h USING (doc_id)
"""


def q_doc_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM quality score (CCNet-style perplexity filter reduced to
    its distributable core): train an add-one-smoothed unigram LM over
    the corpus, score each doc by mean token log-probability. Vocab is
    one hash agg; the score join broadcasts it while small."""
    from floatchat_datapipeline_spark.operators.langmodel import (
        unigram_logprob,
    )

    return unigram_logprob(load_table(spark, sf_dir, "documents"))


_DOC_UNIGRAM_LOGPROB_ORACLE = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), v AS (
  SELECT tok, count(*) AS c FROM toks GROUP BY tok
), s AS (
  SELECT sum(c) AS n, count(*) AS vsz FROM v
), lp AS (
  SELECT doc_id,
         ln(CAST(c + 1 AS DOUBLE) / CAST(n + vsz AS DOUBLE)) AS l
  FROM toks JOIN v USING (tok), s
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       round(sum(l), 4) AS sum_logprob,
       round(sum(l), 4) / count(*) AS avg_logprob
FROM lp GROUP BY doc_id
"""


def q_corpus_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based multilingual rebalancing (Conneau et al. 2020
    §3.1 as a deterministic downsample): per-lang keep-fraction
    (n_min/n_lang)^0.5, membership by content hash. α=0.5 so the power
    is an IEEE sqrt — bit-identical across engines."""
    from floatchat_datapipeline_spark.operators.sampling import (
        temperature_sample,
    )

    return temperature_sample(load_table(spark, sf_dir, "documents"))


_CORPUS_TEMPERATURE_ORACLE = f"""
WITH c AS (
  SELECT lang, count(*) AS n FROM documents GROUP BY lang
), m AS (
  SELECT min(n) AS nmin FROM c
), r AS (
  SELECT lang, round(sqrt(CAST(nmin AS DOUBLE) / n), 6) AS keep_frac
  FROM c, m
)
SELECT doc_id, lang AS stratum, keep_frac,
  CAST({_MD5_LONG_SQL.format(x="'temp:' || CAST(doc_id AS VARCHAR)")}
       % 1000000 AS DOUBLE) < keep_frac * 1000000e0 AS kept
FROM documents JOIN r USING (lang)
"""


def q_corpus_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style quality gate: score every doc with the corpus unigram
    LM, drop the lowest-decile tail. The cut threshold is the exact R-7
    percentile (bit-identical to DuckDB quantile_cont, same rule as A9);
    at 100 TB the same plan swaps in approx_percentile."""
    from floatchat_datapipeline_spark.operators.langmodel import (
        perplexity_filter,
    )

    return perplexity_filter(load_table(spark, sf_dir, "documents"))


_CORPUS_PERPLEXITY_ORACLE = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), v AS (
  SELECT tok, count(*) AS c FROM toks GROUP BY tok
), s AS (
  SELECT sum(c) AS n, count(*) AS vsz FROM v
), lp AS (
  SELECT doc_id,
         ln(CAST(c + 1 AS DOUBLE) / CAST(n + vsz AS DOUBLE)) AS l
  FROM toks JOIN v USING (tok), s
), scored AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         round(sum(l), 4) / count(*) AS avg_logprob
  FROM lp GROUP BY doc_id
), thr AS (
  SELECT quantile_cont(avg_logprob, 0.1e0) AS t FROM scored
)
SELECT doc_id, n_tokens, avg_logprob, avg_logprob >= t AS kept
FROM scored, thr
"""


def q_doc_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/test split: the L1 hash split upgraded to
    DUP-CLUSTER granularity — membership hashes the connected-component
    id (D5 closure over LSH candidate pairs), so near-duplicate docs can
    never straddle train/test (the eval-leakage mode a row-hash split
    cannot prevent; singleton docs hash their own id). Pinned invariant:
    one split per component (tests/test_leakage_split.py). Starts from
    the memoized D5 warm index (operators/dedup.dup_components)."""
    from floatchat_datapipeline_spark.operators.dedup import dup_components
    from floatchat_datapipeline_spark.operators.sampling import (
        train_test_split,
    )

    docs = load_table(spark, sf_dir, "documents")
    comp = dup_components(docs, spark, cache_key=sf_dir)
    labeled = (
        docs.select("doc_id")
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("component", F.col("doc_id")).alias("component"),
        )
    )
    return train_test_split(labeled, id_col="component", salt="groupsplit:")


_GROUPSPLIT_HASH = _MD5_LONG_SQL.format(
    x="'groupsplit:' || CAST(component AS VARCHAR)"
)

_DOC_LEAKAGE_SPLIT_ORACLE = f"""
WITH RECURSIVE {_DUP_COMPONENTS_SQL},
lab AS (
  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
  FROM documents d LEFT JOIN comp c USING (doc_id)
)
SELECT doc_id, component,
  CAST({_GROUPSPLIT_HASH} % 100 AS INT) AS bucket,
  CASE
    WHEN {_GROUPSPLIT_HASH} % 100 < 80 THEN 'train'
    WHEN {_GROUPSPLIT_HASH} % 100 < 90 THEN 'valid'
    ELSE 'test'
  END AS split
FROM lab
"""


def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L7 — Gopher-style repetition ratios (top-word / top-bigram mass)
    with a hygiene flag; explode + two hash aggs, no joins at gram
    cardinality."""
    from floatchat_datapipeline_spark.operators.decontam import (
        repetition_stats,
    )

    return repetition_stats(load_table(spark, sf_dir, "documents"))


_DOC_REPETITION_ORACLE = """
WITH g AS (
  SELECT doc_id, 1 AS n, unnest(t) AS gram
  FROM (SELECT doc_id, string_split(text, ' ') t FROM documents)
  UNION ALL
  SELECT doc_id, 2,
         unnest([t[i] || ' ' || t[i+1] for i in generate_series(1, len(t)-1)])
  FROM (SELECT doc_id, string_split(text, ' ') t FROM documents)
), c AS (
  SELECT doc_id, n, gram, count(*) AS cnt FROM g GROUP BY 1, 2, 3
), m AS (
  SELECT doc_id, n, max(cnt) AS top, CAST(sum(cnt) AS BIGINT) AS total
  FROM c GROUP BY 1, 2
), p AS (
  SELECT doc_id,
    max(CASE WHEN n = 1 THEN total END) AS toks,
    round(max(CASE WHEN n = 1
              THEN CAST(top AS DOUBLE) / CAST(total AS DOUBLE) END), 6)
      AS top_word_frac,
    round(max(CASE WHEN n = 2
              THEN CAST(top AS DOUBLE) / CAST(total AS DOUBLE) END), 6)
      AS top_bigram_frac
  FROM m GROUP BY doc_id
)
SELECT doc_id, CAST(toks AS BIGINT) AS n_tokens, top_word_frac,
       COALESCE(top_bigram_frac, 0.0e0) AS top_bigram_frac,
       (top_word_frac > 0.1 OR COALESCE(top_bigram_frac, 0.0e0) > 0.05)
         AS is_repetitive
FROM p
"""


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L8 — overlapping 64-token chunks, stride 48: map-only sequence +
    explode, no shuffle anywhere in the plan."""
    from floatchat_datapipeline_spark.operators.sampling import (
        chunk_documents,
    )

    return chunk_documents(load_table(spark, sf_dir, "documents"))


_DOC_CHUNKS_ORACLE = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
s AS (
  SELECT doc_id, t,
         unnest([s for s in generate_series(1, greatest(len(t), 1), 48)
                 if s = 1 or s - 48 + 64 <= len(t)]) AS start
  FROM t
)
SELECT doc_id,
  CAST((start - 1) // 48 AS INT) AS chunk_id,
  CAST(start AS INT) AS start_token,
  CAST(len(list_slice(t, start, start + 63)) AS INT) AS n_chunk_tokens,
  array_to_string(list_slice(t, start, start + 63), ' ') AS chunk_text
FROM s
"""


def q_events_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS4 — hypertable-style hourly gap-fill with LOCF carry-forward per
    user; all-integer cents so interpolation has no float drift."""
    from floatchat_datapipeline_spark.operators.timeseries import gapfill_locf

    return gapfill_locf(load_table(spark, sf_dir, "events"))


_EVENTS_GAPFILL_ORACLE = """
WITH hourly AS (
  SELECT user_id, date_trunc('hour', ts) AS hour,
         count(*) AS n,
         CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY 1, 2
), span AS (
  SELECT user_id, min(hour) AS lo, max(hour) AS hi FROM hourly GROUP BY 1
), grid AS (
  SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour
  FROM span
)
SELECT g.user_id, g.hour,
  CAST(COALESCE(n, 0) AS BIGINT) AS n_events,
  cents AS value_cents,
  last_value(cents IGNORE NULLS) OVER (
    PARTITION BY g.user_id ORDER BY g.hour
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_cents,
  cents IS NULL AS is_gap
FROM grid g
LEFT JOIN hourly h ON g.user_id = h.user_id AND g.hour = h.hour
"""


def q_events_gapfill_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS9 — hourly gap-fill with linear interpolation per user
    (operators/timeseries.gapfill_linterp): TS4's grid + two
    nearest-observation windows; gap buckets take the straight line
    between surrounding observed cents sums. The lerp is the identical
    double expression tree in both engines, so filled_value is
    bit-identical."""
    from floatchat_datapipeline_spark.operators.timeseries import (
        gapfill_linterp,
    )

    return gapfill_linterp(load_table(spark, sf_dir, "events"))


_EVENTS_GAPFILL_INTERP_ORACLE = """
WITH hourly AS (
  SELECT user_id, date_trunc('hour', ts) AS hour,
         count(*) AS n,
         CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY 1, 2
), span AS (
  SELECT user_id, min(hour) AS lo, max(hour) AS hi FROM hourly GROUP BY 1
), grid AS (
  SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour
  FROM span
), j AS (
  SELECT g.user_id, g.hour, h.n, h.cents,
         epoch_us(g.hour) // 3600000000 AS hidx
  FROM grid g
  LEFT JOIN hourly h ON g.user_id = h.user_id AND g.hour = h.hour
), w AS (
  SELECT *,
    last_value(cents IGNORE NULLS) OVER wb AS prev_c,
    last_value(CASE WHEN cents IS NOT NULL THEN hidx END IGNORE NULLS)
      OVER wb AS prev_h,
    first_value(cents IGNORE NULLS) OVER wf AS next_c,
    first_value(CASE WHEN cents IS NOT NULL THEN hidx END IGNORE NULLS)
      OVER wf AS next_h
  FROM j
  WINDOW wb AS (PARTITION BY user_id ORDER BY hour
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wf AS (PARTITION BY user_id ORDER BY hour
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT user_id, hour,
  CAST(COALESCE(n, 0) AS BIGINT) AS n_events,
  cents AS value_cents,
  CASE WHEN cents IS NOT NULL THEN CAST(cents AS DOUBLE)
       ELSE CAST(prev_c AS DOUBLE)
            + CAST(next_c - prev_c AS DOUBLE)
              * (CAST(hidx - prev_h AS DOUBLE)
                 / CAST(next_h - prev_h AS DOUBLE))
  END AS filled_value,
  cents IS NULL AS is_gap
FROM w
"""


def q_stream_error_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (errors × clicks within 10 min, same
    user) — dual watermarks bound both buffers; inner join emits in
    append mode. Batch replay is the oracle."""
    from floatchat_datapipeline_spark.streaming.run import materialize
    from floatchat_datapipeline_spark.streaming.sources import stream_table
    from floatchat_datapipeline_spark.streaming.windows import (
        interval_join_stream,
    )

    ev = stream_table(spark, sf_dir, "events")
    return materialize(
        interval_join_stream(
            ev.filter(F.col("event_type") == "error"),
            ev.filter(F.col("event_type") == "click"),
            window_seconds=3600,
        ),
        "q_stream_error_clicks",
        output_mode="append",
    )


_STREAM_ERROR_CLICKS_ORACLE = """
SELECT e.user_id, e.event_id AS probe_id, e.ts AS probe_ts,
       c.event_id AS match_id, c.ts AS match_ts,
       CAST(round(c.value * 100, 0) AS BIGINT) AS match_cents
FROM events e JOIN events c
  ON c.user_id = e.user_id AND c.event_type = 'click'
 AND c.ts >= e.ts AND c.ts < e.ts + INTERVAL 3600 SECOND
WHERE e.event_type = 'error'
"""


def q_events_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS5 — per-event trailing 1-hour count/cents for the same user: a
    RANGE frame over unix-micros, zero joins (incremental two-pointer
    evaluation per sorted partition)."""
    from floatchat_datapipeline_spark.operators.windows import (
        rolling_window_agg,
    )

    return rolling_window_agg(load_table(spark, sf_dir, "events"))


_EVENTS_ROLLING_ORACLE = """
SELECT event_id, user_id, ts,
  count(*) OVER w AS n_window,
  CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) OVER w AS BIGINT)
    AS cents_window
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 3600 SECOND PRECEDING AND CURRENT ROW)
"""


def q_source_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 — exact per-source length quantiles (p50/p90/p99 of n_chars,
    linear interpolation): `percentile` and DuckDB `quantile_cont` share
    the R-7 formula, so values compare bit-for-bit. At 100 TB swap in
    `approx_percentile` (t-digest sketch, partial-aggregable) — same
    plan shape, bounded memory; the exact form here doubles as its
    recall oracle."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.expr("percentile(n_chars, array(0.5e0, 0.9e0, 0.99e0))").alias(
                "_p"
            ),
        )
        .select(
            "source",
            "n_docs",
            F.element_at("_p", 1).alias("p50"),
            F.element_at("_p", 2).alias("p90"),
            F.element_at("_p", 3).alias("p99"),
        )
    )


_SOURCE_QUANTILES_ORACLE = """
SELECT source, count(*) AS n_docs,
       quantile_cont(n_chars, 0.5e0) AS p50,
       quantile_cont(n_chars, 0.9e0) AS p90,
       quantile_cont(n_chars, 0.99e0) AS p99
FROM documents GROUP BY source
"""


def _source_quantiles_approx_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw approx_percentile rollup (Greenwald-Khanna summaries:
    partial-aggregable, bounded memory per group) — the form that runs
    at 100 TB where `percentile`'s per-group value buffer cannot.
    accuracy=10000 bounds rank error at n/10000."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.expr(
                "approx_percentile(n_chars, array(0.5e0, 0.9e0, 0.99e0),"
                " 10000)"
            ).alias("_p"),
        )
        .select(
            "source",
            "n_docs",
            F.element_at("_p", 1).cast("double").alias("p50"),
            F.element_at("_p", 2).cast("double").alias("p90"),
            F.element_at("_p", 3).cast("double").alias("p99"),
        )
    )


def q_source_quantiles_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 scale path WITH a cross-engine value oracle. The sketch values
    themselves are engine-internal (GK summary layout/merge order), so
    instead of hashing them the query emits the sketch's ACCURACY
    CERTIFICATE: for each returned quantile value v, its true rank
    interval [count(<v)+1, count(<=v)] must intersect the guaranteed
    band (q ± ε)·n (ε = 1 % ≫ the 10⁻⁴ accuracy bound, ±1 rank slack
    for the small-n exact-mode path). The oracle is the exact rollup plus
    literal TRUE per certificate — a sketch drifting outside its
    guarantee flips the driver hash red. Two scans of documents (sketch
    build + rank check); the certificate-free scale path is
    `_source_quantiles_approx_df`."""
    docs = load_table(spark, sf_dir, "documents").select("source", "n_chars")
    a = _source_quantiles_approx_df(spark, sf_dir)
    j = docs.join(F.broadcast(a), "source")
    agg = [F.first("n_docs").alias("n_docs")]
    for q, tag in ((0.5, "50"), (0.9, "90"), (0.99, "99")):
        v = F.col(f"p{tag}")
        agg.append(
            F.sum((F.col("n_chars") < v).cast("long")).alias(f"_lt{tag}")
        )
        agg.append(
            F.sum((F.col("n_chars") <= v).cast("long")).alias(f"_le{tag}")
        )
    chk = j.groupBy("source").agg(*agg)
    eps = 0.01
    cols = [F.col("source"), F.col("n_docs")]
    for q, tag in ((0.5, "50"), (0.9, "90"), (0.99, "99")):
        n = F.col("n_docs").cast("double")
        ok = (
            (F.col(f"_lt{tag}") + 1 <= (q + eps) * n + 1)
            & (F.col(f"_le{tag}") >= (q - eps) * n - 1)
        )
        cols.append(ok.alias(f"p{tag}_ok"))
    return chk.select(*cols)


_SOURCE_QUANTILES_SKETCH_ORACLE = """
SELECT source, count(*) AS n_docs,
       TRUE AS p50_ok, TRUE AS p90_ok, TRUE AS p99_ok
FROM documents GROUP BY source
"""


def q_emb_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V9 — int8 scalar quantization audit: per vector, the quantization
    scale, max reconstruction error, and code summary (no array columns —
    the driver compare hashes scalars). Codes are 4× smaller than f32;
    the ANN candidate scan reads those, exact re-rank touches floats."""
    from floatchat_datapipeline_spark.functions.vector import (
        dequantize,
        quantize,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    scale, q = quantize(F.col("vec"))
    emb = emb.select("vec_id", "vec", scale.alias("_s"), q.alias("_q"))
    err = F.array_max(
        F.zip_with(
            F.col("vec"),
            dequantize(F.col("_q"), F.col("_s")),
            lambda a, b: F.abs(a - b),
        )
    )
    return emb.select(
        "vec_id",
        F.round("_s", 6).alias("scale"),
        F.round(err, 6).alias("max_err"),
        F.array_min("_q").alias("code_min"),
        F.array_max("_q").alias("code_max"),
        F.aggregate(
            F.col("_q"), F.lit(0), lambda acc, x: acc + F.abs(x)
        ).alias("code_l1"),
    )


_EMB_QUANTIZE_ORACLE = """
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
), s AS (
  SELECT vec_id, vec,
         list_max(list_transform(vec, x -> abs(x))) / 127 AS scale
  FROM v
), q AS (
  SELECT vec_id, vec, scale,
    CASE WHEN scale = 0 THEN list_transform(vec, x -> 0)
         ELSE list_transform(vec, x -> CAST(round(x / scale, 0) AS INT))
    END AS qv
  FROM s
)
SELECT vec_id, round(scale, 6) AS scale,
  round(list_max(list_transform(list_zip(vec, qv),
        p -> abs(p[1] - p[2] * scale))), 6) AS max_err,
  list_min(qv) AS code_min,
  list_max(qv) AS code_max,
  -- list_aggregate 'sum' widens to HUGEINT; Spark's fold seeds with an
  -- int literal and stays INT — cast back or the driver's dtype-aware
  -- hash diverges on identical values (the revenue_rollup lesson)
  CAST(list_aggregate(list_transform(qv, x -> abs(x)), 'sum') AS INT)
    AS code_l1
FROM q
"""


def q_vocab_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary head: exact global top-20 tokens by occurrence
    with document frequency — one explode + one hash agg (partial
    map-side combine carries the heavy lifting; the token keyspace is
    vocabulary-sized, so the shuffle is small no matter the corpus), then
    TakeOrderedAndProject for the top-k (no global sort)."""
    docs = load_table(spark, sf_dir, "documents")
    from floatchat_datapipeline_spark.functions.textstats import tokens

    return (
        docs.select("doc_id", F.explode(tokens("text")).alias("token"))
        .groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.desc("n_occurrences"), F.col("token"))
        .limit(20)
    )


_VOCAB_TOP_TERMS_ORACLE = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
)
SELECT token, count(*) AS n_occurrences, count(DISTINCT doc_id) AS n_docs
FROM tok GROUP BY token
ORDER BY n_occurrences DESC, token LIMIT 20
"""


def q_doc_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5 composed end-to-end: LSH candidate pairs → component closure →
    one keeper per duplicate group (the group's minimum id — which IS the
    component label) → every document flagged. The 'give me the
    deduplicated corpus' query a training pipeline actually runs; docs in
    no duplicate group keep themselves. Starts from the memoized D5 warm
    index (operators/dedup.dup_components)."""
    from floatchat_datapipeline_spark.operators.dedup import dup_components

    docs = load_table(spark, sf_dir, "documents")
    comp = dup_components(docs, spark, cache_key=sf_dir)
    return docs.select("doc_id").join(comp, "doc_id", "left").select(
        "doc_id",
        F.coalesce("component", F.col("doc_id")).alias("component"),
        (
            F.col("component").isNull()
            | (F.col("component") == F.col("doc_id"))
        ).alias("is_kept"),
    )


_DOC_DEDUP_APPLY_ORACLE = f"""
WITH RECURSIVE {_DUP_COMPONENTS_SQL}
SELECT d.doc_id,
  CAST(COALESCE(c.component, d.doc_id) AS BIGINT) AS component,
  (c.component IS NULL OR c.component = d.doc_id) AS is_kept
FROM documents d LEFT JOIN comp c USING (doc_id)
"""


def q_doc_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L9 — sub-document segment dedup (MassiveText/Falcon line-dedup
    analog): drop every 10-token segment whose content hash appears in
    more than one document, reassemble the survivors. The duplicated-
    segment set broadcasts; the corpus-side segment stream is pruned
    map-side and only the per-doc reassembly shuffles."""
    from floatchat_datapipeline_spark.operators.dedup import segment_dedup

    return segment_dedup(load_table(spark, sf_dir, "documents"))


_DOC_SEGMENT_DEDUP_ORACLE = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
), segs AS (
  SELECT doc_id, u.i AS pos,
         array_to_string(tk[(u.i*10+1):(u.i*10+10)], ' ') AS seg
  FROM t, unnest(range(0, (len(tk)+9)//10)) AS u(i)
), hashed AS (
  SELECT doc_id, pos, seg, {_MD5_LONG_SQL.format(x='seg')} AS h FROM segs
), bad AS (
  SELECT h FROM hashed GROUP BY h HAVING count(DISTINCT doc_id) > 1
), kept AS (
  SELECT doc_id, pos, seg FROM hashed ANTI JOIN bad USING (h)
), agg AS (
  SELECT doc_id, string_agg(seg, ' ' ORDER BY pos) AS clean_text,
         count(*) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id,
       COALESCE(agg.clean_text, '') AS clean_text,
       CAST(COALESCE(agg.n_kept, 0) AS BIGINT) AS n_kept,
       CAST((len(tk)+9)//10 - COALESCE(agg.n_kept, 0) AS BIGINT) AS n_dropped
FROM t LEFT JOIN agg USING (doc_id)
"""


def q_vocab_cms_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 — count-min-sketch heavy hitters: build the d×w sketch from
    the pre-aggregated (token, exact-count) vocabulary rollup via
    weighted updates (bit-identical to a raw-stream build — sum of
    weights ≡ count of occurrences; one hash agg, output bounded by the
    sketch size, not the corpus), point-query every vocabulary term,
    and return the top 20 by estimate with the exact count alongside as
    the audit twin (est ≥ exact always; at 100 TB only the sketch path
    runs).

    The sketch is deterministic (seeded 60-bit md5 buckets), so unlike
    HLL/t-digest this approximate operator has a full value-level DuckDB
    oracle."""
    from floatchat_datapipeline_spark.operators.sketches import (
        cms_build,
        cms_estimate,
    )
    from floatchat_datapipeline_spark.functions.textstats import tokens

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(tokens("text")).alias("token"))
    # Tokenize ONCE: the sketch built from the pre-aggregated
    # (token, exact) rollup with weight_col is bit-identical to one
    # built from the raw stream (sum of weights = count of
    # occurrences), and the seeded md5 coordinates are now computed
    # per DISTINCT token instead of per token occurrence. cnt feeds
    # three consumers (sketch build, estimate probes, final join), so
    # it is eagerly checkpointed — it is vocabulary-bounded, never
    # corpus-sized (r13; previously the raw tokenize ran again for the
    # sketch branch).
    cnt = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("exact"))
        .localCheckpoint(eager=True)
    )
    sketch = cms_build(cnt, weight_col="exact")
    est = cms_estimate(cnt, sketch)
    return (
        cnt.join(est, "token")
        .select("token", "est", F.col("exact").cast("long").alias("exact"))
        .orderBy(F.desc("est"), "token")
        .limit(20)
    )


_CMS_SEED_HASH_SQL = _MD5_LONG_SQL.format(
    x="CAST(u.j AS VARCHAR) || '|' || token"
)

_VOCAB_CMS_TOPK_ORACLE = f"""
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS token FROM documents
), cnt AS (
  SELECT token, count(*) AS exact FROM tok GROUP BY token
), coords AS (
  SELECT u.j AS rw, CAST({_CMS_SEED_HASH_SQL} % 512 AS INT) AS bucket, exact
  FROM cnt, unnest(range(0, 4)) AS u(j)
), cms AS (
  SELECT rw, bucket, CAST(sum(exact) AS BIGINT) AS c
  FROM coords GROUP BY rw, bucket
), est AS (
  SELECT token, CAST(min(c) AS BIGINT) AS est
  FROM (
    SELECT cnt.token, cms.c
    FROM cnt CROSS JOIN unnest(range(0, 4)) AS u(j)
    JOIN cms ON cms.rw = u.j
            AND cms.bucket = CAST({_CMS_SEED_HASH_SQL} % 512 AS INT)
  ) GROUP BY token
)
SELECT cnt.token, est, CAST(exact AS BIGINT) AS exact
FROM cnt JOIN est USING (token)
ORDER BY est DESC, cnt.token
LIMIT 20
"""


def q_events_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z1 — Morton (Z-order) clustering key over (user_id, event second):
    quantize both dimensions to 16 bits by observed min/max, interleave,
    and report per-zkey-bucket row counts and per-dimension spans. The
    spans are the point: every bucket is bounded in BOTH dimensions at
    once, which is what makes `compact_table(zorder_by=...)` files
    prunable by either predicate. Key build is a pure codegen expression
    (map-only); the only shuffle is the demo aggregation."""
    from floatchat_datapipeline_spark.functions.zorder import (
        quantize,
        zvalue,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        epoch_seconds("ts").alias("sec"),
    )
    st = ev.agg(
        F.min("user_id"),
        F.max("user_id"),
        F.min("sec"),
        F.max("sec"),
    ).first()
    qx = quantize(F.col("user_id"), F.lit(st[0]), F.lit(st[1]))
    qy = quantize(F.col("sec"), F.lit(st[2]), F.lit(st[3]))
    return (
        ev.withColumn("zkey", zvalue([qx, qy]))
        .withColumn("bucket", F.shiftright(F.col("zkey"), 26).cast("long"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.max("user_id") - F.min("user_id"))
            .cast("long")
            .alias("user_span"),
            (F.max("sec") - F.min("sec")).cast("long").alias("sec_span"),
        )
        .orderBy("bucket")
    )


def _events_zorder_oracle() -> str:
    from floatchat_datapipeline_spark.functions.zorder import zvalue_sql

    def quant_sql(c: str, lo: str, hi: str) -> str:
        return (
            f"CASE WHEN {hi} = {lo} THEN 0 ELSE "
            f"LEAST(GREATEST(CAST(floor(CAST({c} - {lo} AS DOUBLE) / "
            f"CAST({hi} - {lo} AS DOUBLE) * 65536.0) AS BIGINT), 0), "
            f"65535) END"
        )

    return f"""
WITH ev AS (
  SELECT event_id, user_id, epoch_us(ts) // 1000000 AS sec FROM events
), st AS (
  SELECT min(user_id) AS lou, max(user_id) AS hiu,
         min(sec) AS los, max(sec) AS his
  FROM ev
), q AS (
  SELECT event_id, user_id, sec,
         {quant_sql('user_id', 'lou', 'hiu')} AS qx,
         {quant_sql('sec', 'los', 'his')} AS qy
  FROM ev CROSS JOIN st
), z AS (
  SELECT event_id, user_id, sec, {zvalue_sql(['qx', 'qy'])} AS zkey FROM q
)
SELECT CAST(zkey >> 26 AS BIGINT) AS bucket, count(*) AS n,
       CAST(max(user_id) - min(user_id) AS BIGINT) AS user_span,
       CAST(max(sec) - min(sec) AS BIGINT) AS sec_span
FROM z GROUP BY bucket ORDER BY bucket
"""


_EVENTS_ZORDER_ORACLE = _events_zorder_oracle()


def q_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V10 — two-stage PQ-ADC search: train 16 per-subspace codebooks
    (deterministic spherical k-means on each 4-dim slice), encode every
    vector as 16 codes (16 B vs 256 B of floats), shortlist 50
    candidates from codes alone via the precomputed inner-product LUT
    (m element_at lookups + a sum — no per-row vector math), then
    exact-re-rank just the shortlist. recall@10 ≈ 0.9 vs exact MIPS on
    the test corpus (tests/test_embeddings.py pins ≥ 0.8)."""
    from floatchat_datapipeline_spark.embeddings.pq import (
        PQ_RERANK,
        pq_adc_topk,
    )

    return pq_adc_topk(
        load_table(spark, sf_dir, "embeddings"),
        query_id=1,
        k=10,
        cache_key=f"{sf_dir}/embeddings.parquet",
        rerank=PQ_RERANK,
    )


def _ann_pq_oracle(
    dim: int = 64,
    m: int = 16,
    ksub: int = 32,
    iters: int = 1,
    k: int = 10,
    rerank: int = 50,
) -> str:
    """Replay pq_adc_topk: one k-means replay per subspace slice, the
    query's per-subspace LUT, the m-way code join, ADC sum, ADC
    shortlist, exact re-rank."""
    dsub = dim // m
    parts = []
    for s in range(m):
        lo, hi = s * dsub + 1, (s + 1) * dsub
        parts.append(
            _kmeans_replay_sql(
                ksub,
                iters,
                sfx=f"_s{s}",
                vec_sql=f"(CAST(embedding AS DOUBLE[]))[{lo}:{hi}]",
            )
        )
    luts = ", ".join(
        f"""lut{s} AS (
  SELECT c.cid,
         round(list_dot_product(
           (q.qvec)[{s * dsub + 1}:{(s + 1) * dsub}], c.cvec), 6) AS w
  FROM c{iters}_s{s} c, q
)"""
        for s in range(m)
    )
    code_joins = " ".join(
        f"JOIN af_s{s} a{s} USING (vec_id)" for s in range(1, m)
    )
    lut_joins = " ".join(
        f"JOIN lut{s} l{s} ON l{s}.cid = a{s}.cluster" for s in range(m)
    )
    adc = " + ".join(f"l{s}.w" for s in range(m))
    return f"""WITH {', '.join(parts)}, vfull AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
), q AS (
  SELECT CAST(embedding AS DOUBLE[]) AS qvec FROM embeddings
  WHERE vec_id = 1
), {luts}, scored AS (
  SELECT a0.vec_id, round({adc}, 6) AS adc_score
  FROM af_s0 a0 {code_joins} {lut_joins}
), short AS (
  SELECT s.vec_id, s.adc_score,
         round(list_dot_product(vfull.vec, q.qvec), 6) AS exact_score
  FROM scored s JOIN vfull USING (vec_id) CROSS JOIN q
  WHERE s.vec_id <> 1
  ORDER BY s.adc_score DESC, s.vec_id
  LIMIT {rerank}
)
SELECT vec_id, adc_score, exact_score FROM short
ORDER BY exact_score DESC, vec_id
LIMIT {k}
"""


_ANN_PQ_ORACLE = _ann_pq_oracle()


# ---------------------------------------------------------------------------
# Audience analytics — distinct-user rollups, CUBE, cohort retention
# (reference analog: fastapi_app.py dashboard stats; SURVEY.md §2.7 A6-A8)
# ---------------------------------------------------------------------------


def q_events_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sketch-hll exact twin — daily distinct users per event_type via
    exact count(distinct) (Expand + two-phase hash agg). Doubles as the
    recall oracle for the HLL sketch twin below."""
    from floatchat_datapipeline_spark.operators.windows import (
        distinct_users_rollup,
    )

    return distinct_users_rollup(load_table(spark, sf_dir, "events")).withColumn(
        "day", F.col("day").cast("string")
    )


_EVENTS_DISTINCT_USERS_ORACLE = """
SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, event_type,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users
FROM events GROUP BY 1, 2
"""


def q_events_distinct_users_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sketch-hll scale path WITH a cross-engine value oracle. The HLL++
    estimate itself is engine-internal, so the query emits the sketch's
    ACCURACY CERTIFICATE instead: per (day, event_type) cell, the exact
    distinct count plus a boolean asserting |HLL − exact| ≤
    max(5 %·exact, 2) — 5× the configured rsd (1 %), so a correct sketch
    passes with massive margin and a broken merge flips the driver hash
    red. Both aggregates ride ONE groupBy (HLL adds a fixed-size
    partial-aggregable sketch next to the exact distinct's Expand). The
    certificate-free 100 TB path — sketch only, no exact twin — remains
    `distinct_users_rollup(approx=True)`."""
    ev = load_table(spark, sf_dir, "events")
    # Dedupe-first instead of count(distinct): collapsing to (day, type,
    # user) rows makes the exact distinct a plain count(*) and feeds the
    # HLL the same user SET (duplicates never change HLL registers), so
    # no Expand appears in the plan — two partial-aggregable shuffles
    # instead of a doubled-row expand (measured 3.9 s → ~1 s at sf0.1).
    per_user = ev.groupBy(
        F.to_date("ts").alias("day"), "event_type", "user_id"
    ).agg(F.count(F.lit(1)).alias("_c"))
    g = per_user.groupBy("day", "event_type").agg(
        F.sum("_c").alias("n_events"),
        F.count(F.lit(1)).alias("n_users"),
        F.approx_count_distinct("user_id", 0.01).alias("_a"),
    )
    tol = F.greatest(F.ceil(F.col("n_users") * 0.05), F.lit(2).cast("bigint"))
    return g.select(
        F.col("day").cast("string").alias("day"),
        "event_type",
        "n_events",
        "n_users",
        (F.abs(F.col("_a") - F.col("n_users")) <= tol).alias("sketch_ok"),
    )


_EVENTS_DISTINCT_USERS_SKETCH_ORACLE = """
SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, event_type,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       TRUE AS sketch_ok
FROM events GROUP BY 1, 2
"""


def q_events_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """grouping-sets — CUBE over (day, event_type): all four
    granularities (cell, per-day, per-type, grand total) in ONE pass.
    Spark expands the grouping sets before the shuffle and partial
    aggregation still applies, so the cube costs one shuffle — not four
    scans. gid (grouping_id bitmask, same bit convention as DuckDB
    GROUPING()) disambiguates a real 'ALL' value from the rollup rows."""
    ev = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "event_type", "value"
    )
    return (
        ev.cube("day", "event_type")
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.coalesce(F.col("day").cast("string"), F.lit("ALL")).alias(
                "day"
            ),
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            "gid",
            "n_events",
            "sum_value",
        )
    )


_EVENTS_CUBE_ORACLE = """
WITH e AS (
  SELECT CAST(ts AS DATE) AS day, event_type, value FROM events
)
SELECT COALESCE(CAST(day AS VARCHAR), 'ALL') AS day,
       COALESCE(event_type, 'ALL') AS event_type,
       CAST(GROUPING(day, event_type) AS INT) AS gid,
       count(*) AS n_events,
       round(sum(value), 2) AS sum_value
FROM e GROUP BY CUBE (day, event_type)
"""


def q_user_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cohort-retention — weekly first-seen cohorts × week offset with
    distinct active users per cell (the retention triangle). See
    operators/windows.retention_cohort for the one-pass-over-raw-data
    scale design."""
    from floatchat_datapipeline_spark.operators.windows import (
        retention_cohort,
    )

    return retention_cohort(load_table(spark, sf_dir, "events")).withColumn(
        "cohort_week", F.col("cohort_week").cast("string")
    )


_USER_RETENTION_ORACLE = """
WITH a AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events
), f AS (
  SELECT user_id, min(wk) AS cohort FROM a GROUP BY user_id
)
SELECT CAST(CAST(f.cohort AS DATE) AS VARCHAR) AS cohort_week,
       CAST(date_diff('day', CAST(f.cohort AS DATE), CAST(a.wk AS DATE)) // 7
            AS INT) AS week_offset,
       count(*) AS n_users
FROM a JOIN f USING (user_id)
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Graph + interval algebra (beyond-reference: iterative joins, sweep lines)
# ---------------------------------------------------------------------------


def q_events_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point PageRank (10 iterations, α=0.85) over the user
    co-activity graph — users linked when active in the same
    (event_type, 10-minute slot) bucket (membership capped at 64, the
    LSH posting-list rule). Ranks are BIGINT mass units with integer-division
    damping, so ten iterations are bit-identical across engines and
    shuffle orders; the oracle replays them as ten chained CTEs. The
    rank vector broadcasts into each per-iteration edge join (no edge
    shuffle); see operators/graph.py for the 100 TB notes."""
    from floatchat_datapipeline_spark.operators.graph import (
        coactivity_edges,
        pagerank_fixed_point,
    )

    ev = load_table(spark, sf_dir, "events")
    ranks = pagerank_fixed_point(
        coactivity_edges(ev, cache_key=sf_dir), iters=10
    )
    return ranks.select(
        F.col("node").alias("user_id"), F.col("rank").alias("rank_units")
    ).orderBy(F.desc("rank_units"), "user_id")


def _pagerank_oracle(iters: int = 10, cap: int = 64) -> str:
    head = f"""
WITH members AS (
  SELECT DISTINCT event_type,
         epoch_us(ts) // 600000000 AS h, user_id
  FROM events
), capped AS (
  SELECT event_type, h, user_id FROM (
    SELECT *, row_number() OVER (
      PARTITION BY event_type, h ORDER BY user_id) AS rn
    FROM members)
  WHERE rn <= {cap}
), edges0 AS (
  SELECT DISTINCT a.user_id AS src, b.user_id AS dst
  FROM capped a JOIN capped b
    ON a.event_type = b.event_type AND a.h = b.h
   AND a.user_id <> b.user_id
), deg AS (
  SELECT src, count(*) AS outdeg FROM edges0 GROUP BY src
), edges AS (
  SELECT e.src, e.dst, d.outdeg FROM edges0 e JOIN deg d USING (src)
), nodes AS (
  SELECT DISTINCT src AS node FROM edges0
), const AS (
  SELECT CAST(1000000000000000 // count(*) AS BIGINT) AS base FROM nodes
), r0 AS (
  SELECT node, (SELECT base FROM const) AS pr FROM nodes
)"""
    steps = []
    for i in range(1, iters + 1):
        steps.append(f""", r{i} AS (
  SELECT n.node,
         CAST((SELECT (15 * base) // 100 FROM const)
              + (85 * COALESCE(s.inflow, 0)) // 100 AS BIGINT) AS pr
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, CAST(sum(r.pr // e.outdeg) AS BIGINT) AS inflow
    FROM edges e JOIN r{i - 1} r ON r.node = e.src
    GROUP BY e.dst) s USING (node)
)""")
    tail = f"""
SELECT node AS user_id, pr AS rank_units
FROM r{iters}
ORDER BY rank_units DESC, user_id
"""
    return head + "".join(steps) + tail


_EVENTS_PAGERANK_ORACLE = _pagerank_oracle()


def q_events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval max-overlap per event_type: events held open for 5
    minutes; peak simultaneous-open count via a +1/−1 boundary sweep with
    one growing-frame running sum (operators/timeseries.peak_concurrency).
    The capacity-planning twin of the OHLC decimation."""
    from floatchat_datapipeline_spark.operators.timeseries import (
        peak_concurrency,
    )

    return peak_concurrency(load_table(spark, sf_dir, "events"))


_EVENTS_PEAK_CONCURRENCY_ORACLE = """
WITH pts AS (
  SELECT event_type, ts AS t, 1 AS delta FROM events
  UNION ALL
  SELECT event_type, ts + INTERVAL 300 SECOND, -1 FROM events
), run AS (
  SELECT event_type,
         CAST(sum(delta) OVER (
           PARTITION BY event_type ORDER BY t, delta
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS open_now
  FROM pts
)
SELECT event_type,
       max(open_now) AS peak_concurrency,
       CAST(count(*) // 2 AS BIGINT) AS n_intervals
FROM run
GROUP BY event_type
ORDER BY event_type
"""


def q_events_interval_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-union coverage per user: merge overlapping/touching
    5-minute activity intervals (gaps-and-islands running max) and report
    merged-island count and exact covered microseconds
    (operators/timeseries.interval_union) — the de-double-counted
    active-time metric."""
    from floatchat_datapipeline_spark.operators.timeseries import (
        interval_union,
    )

    return interval_union(load_table(spark, sf_dir, "events"))


_EVENTS_INTERVAL_UNION_ORACLE = """
WITH iv AS (
  SELECT user_id, event_id, epoch_us(ts) AS s_us,
         epoch_us(ts) + 300000000 AS e_us
  FROM events
), flagged AS (
  SELECT user_id, event_id, s_us, e_us,
         CASE WHEN max(e_us) OVER w IS NULL THEN 1
              WHEN s_us > max(e_us) OVER w THEN 1 ELSE 0 END AS new_island
  FROM iv
  WINDOW w AS (PARTITION BY user_id ORDER BY s_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
), numbered AS (
  SELECT user_id, s_us, e_us,
         CAST(sum(new_island) OVER (
           PARTITION BY user_id ORDER BY s_us, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS island
  FROM flagged
), islands AS (
  SELECT user_id, island, min(s_us) AS i_start, max(e_us) AS i_end,
         count(*) AS n_ev
  FROM numbered GROUP BY user_id, island
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_islands,
       CAST(sum(n_ev) AS BIGINT) AS n_intervals,
       CAST(sum(i_end - i_start) AS BIGINT) AS covered_us
FROM islands
GROUP BY user_id
ORDER BY user_id
"""


def q_events_hourly_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K12 — incremental view maintenance for an additive rollup: the
    hourly (hour, type) → (count, cents) view is maintained by MERGING
    the base view's aggregate state with the late-arrival delta's partial
    state — never by rescanning base facts. Base (event_id % 17 ≠ 0,
    standing in for the already-materialized view) is rolled up once and
    localCheckpointed; the delta (% 17 = 0, the late batch) rolls up
    independently; the union re-aggregates with SUM over the partial
    (n, cents) pairs — legal exactly because count/sum are
    re-aggregable (the same property the partial/merge two-phase agg and
    the HLL sketch merge rely on). At 100 TB the base side is a stored
    table and the maintenance cost is O(|delta| + |view|), not
    O(|facts|). Oracle = the full recompute over all events — IVM's
    defining equation."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "cents", F.round(F.col("value") * 100).cast("long")
    )

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy(
            F.date_trunc("hour", "ts").alias("hour"),
            "event_type",
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").alias("sum_cents"),
        )

    base_view = rollup(ev.filter(F.col("event_id") % 17 != 0)).localCheckpoint(
        eager=True
    )
    delta = rollup(ev.filter(F.col("event_id") % 17 == 0))
    return (
        base_view.unionByName(delta)
        .groupBy("hour", "event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_cents").alias("sum_cents"),
        )
        .orderBy("hour", "event_type")
    )


_EVENTS_HOURLY_IVM_ORACLE = """
SELECT date_trunc('hour', ts) AS hour, event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events
GROUP BY date_trunc('hour', ts), event_type
ORDER BY hour, event_type
"""


def q_bucketed_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z3 — co-located fact ⋈ fact join over bucketed layout: lineitem
    and orders are persisted bucketed by orderkey (16 buckets, write-once
    memoized per sf — sinks/bucketed.ensure_bucketed_order_tables), so
    the sort-merge join reads co-located, pre-sorted buckets and plans
    ZERO exchanges and ZERO sorts on either side (pinned by
    test_bucketed_join_has_no_exchange). The only shuffle in the whole
    plan is the 5-group priority rollup. The merge hint keeps AQE from
    "helpfully" broadcasting the locally-small orders side — at 100 TB
    neither side broadcasts, and this zero-shuffle SMJ is the plan that
    survives. Revenue in exact 1e-4-dollar units."""
    from floatchat_datapipeline_spark.sinks.bucketed import (
        ensure_bucketed_order_tables,
        read_bucketed,
    )

    lt, ot = ensure_bucketed_order_tables(spark, sf_dir)
    li = read_bucketed(spark, lt)
    orders = read_bucketed(spark, ot)
    rev_e4 = F.round(F.col("l_extendedprice") * 100).cast("long") * (
        100 - F.round(F.col("l_discount") * 100).cast("long")
    )
    return (
        li.hint("merge")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.sum(rev_e4).alias("revenue_e4"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy("o_orderpriority")
    )


_BUCKETED_ORDER_REVENUE_ORACLE = """
SELECT o_orderpriority,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(round(l_discount * 100) AS BIGINT)))
            AS BIGINT) AS revenue_e4,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q_bloom_filtered_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J16 — bloom-prefiltered semi-join: revenue by order priority for
    orders whose customer is in the AUTOMOBILE segment, with the
    customer key set packed into a ~16 KB bloom filter probed MAP-ONLY
    on the orders scan before the exact left-semi join removes false
    positives (operators/joins.bloom_semi_join). The result is
    bit-identical to the plain semi-join — the oracle IS the plain SQL —
    but the fact rows entering the join shuffle shrink to
    true-matches + fpr. The regime this exists for: the build side's
    rows are too big to broadcast, its key set is not. Money in exact
    cents."""
    from floatchat_datapipeline_spark.operators.joins import bloom_semi_join

    orders = load_table(spark, sf_dir, "orders")
    auto = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "AUTOMOBILE"
    )
    kept = bloom_semi_join(
        orders, auto, "o_custkey", "c_custkey",
        cache_key=f"auto-custkeys:{sf_dir}",
    )
    return (
        kept.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("long")
            ).alias("revenue_cents"),
        )
        .orderBy("o_orderpriority")
    )


_BLOOM_FILTERED_ORDER_REVENUE_ORACLE = """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS revenue_cents
FROM orders
WHERE o_custkey IN (
  SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE')
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# Round-7 additions: sliding distinct, seasonal baseline, regression trend,
# triangle census, column profiling, spatial grid join, Pareto/ABC, weighted
# median (SURVEY.md §2.14: A24-A28, TS10, G2, J17)
# ---------------------------------------------------------------------------


def q_events_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A24 — trailing-24h distinct users per hour (sliding HAU). Distinct
    does not compose over overlapping frames, so the scalable form is
    bucket-contribution: dedupe to (hour, user) once, explode each
    membership to the ≤24 windows it serves, one hash-distinct per
    target hour (operators/windows.sliding_distinct_users)."""
    from floatchat_datapipeline_spark.operators.windows import (
        sliding_distinct_users,
    )

    return sliding_distinct_users(load_table(spark, sf_dir, "events"))


_EVENTS_SLIDING_DISTINCT_ORACLE = """
WITH hu AS (
  SELECT DISTINCT date_trunc('hour', ts) AS h, user_id FROM events
), hrs AS (
  SELECT DISTINCT h FROM hu
), c AS (
  SELECT user_id, h + k * INTERVAL 1 HOUR AS t
  FROM hu CROSS JOIN (SELECT unnest(range(0, 24)) AS k)
)
SELECT c.t AS hour,
       CAST(count(DISTINCT c.user_id) AS BIGINT) AS n_users_trailing
FROM c JOIN hrs ON c.t = hrs.h
GROUP BY c.t
"""


def q_events_seasonal_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS10 — hour-of-day seasonal spike detection: a (day, hour, type)
    cell is a spike when its cents mass exceeds 2× the mean of its
    (type, hour-of-day) slot across days. Exact integer cross-multiply,
    zero floats (operators/timeseries.seasonal_baseline_spikes)."""
    from floatchat_datapipeline_spark.operators.timeseries import (
        seasonal_baseline_spikes,
    )

    return seasonal_baseline_spikes(load_table(spark, sf_dir, "events"))


_EVENTS_SEASONAL_BASELINE_ORACLE = """
WITH cell AS (
  SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
         CAST(hour(ts) AS INT) AS hod, event_type,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY 1, 2, 3
), base AS (
  SELECT event_type, hod,
         CAST(sum(cents) AS BIGINT) AS base_cents,
         CAST(count(*) AS BIGINT) AS n_days
  FROM cell GROUP BY 1, 2
)
SELECT c.day, c.hod, c.event_type, c.n_events, c.cents,
       (c.cents * b.n_days > 2 * b.base_cents) AS is_spike
FROM cell c JOIN base b USING (event_type, hod)
"""


def q_events_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A25 — per-type OLS trend of hourly value mass, in EXACT integer
    sums: hours rebase to a 0-based index (one tiny global-min agg,
    broadcast), y is cents, and slope/intercept come from the closed-form
    normal equations whose numerators/denominators are all BIGINT —
    the only float op is the final division of two exact integers, which
    is one IEEE-deterministic quotient in any engine. The rebased x
    keeps every product far from 2^63 at test scales; at extreme scales
    split the time axis per window (docstring contract, not a silent
    cap). One shuffle (hourly rollup); the per-type reduce is algebraic
    sums, partial-aggregable."""
    from floatchat_datapipeline_spark.functions.eventtime import (
        epoch_micros,
        long_div,
    )

    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        long_div(
            epoch_micros(F.date_trunc("hour", F.col("ts"))), 3_600_000_000
        ).alias("hx"),
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("y")
    )
    x0 = hourly.agg(F.min("hx").alias("x0"))
    h = hourly.crossJoin(F.broadcast(x0)).select(
        "event_type", (F.col("hx") - F.col("x0")).alias("x"), "y"
    )
    sums = h.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    den = F.col("n_hours") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope_num = F.col("n_hours") * F.col("sxy") - F.col("sx") * F.col("sy")
    icept_num = F.col("sy") * F.col("sxx") - F.col("sx") * F.col("sxy")
    # Degenerate guard (lazy CaseWhen, q_events_anova_f pattern): a type
    # whose mass sits in a single hour has den = n·sxx − sx² = 0 — OLS
    # is undefined on one distinct x, so NULL the line instead of
    # aborting under ANSI mode. Mirrored CASE in the oracle.
    return sums.select(
        "event_type",
        "n_hours",
        F.col("sy").alias("sum_cents"),
        F.when(
            den != F.lit(0), slope_num.cast("double") / den.cast("double")
        ).alias("slope_cents_per_hour"),
        F.when(
            den != F.lit(0), icept_num.cast("double") / den.cast("double")
        ).alias("intercept_cents"),
    )


_EVENTS_VALUE_TREND_ORACLE = """
WITH hourly AS (
  SELECT event_type, epoch_us(date_trunc('hour', ts)) // 3600000000 AS hx,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
), x0 AS (
  SELECT CAST(min(hx) AS BIGINT) AS x0 FROM hourly
), h AS (
  SELECT event_type, CAST(hx - x0 AS BIGINT) AS x, y FROM hourly, x0
), sums AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_hours,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx
  FROM h GROUP BY 1
)
SELECT event_type, n_hours, sy AS sum_cents,
       CASE WHEN n_hours * sxx - sx * sx = 0 THEN NULL
       ELSE CAST(n_hours * sxy - sx * sy AS DOUBLE)
         / CAST(n_hours * sxx - sx * sx AS DOUBLE) END
         AS slope_cents_per_hour,
       CASE WHEN n_hours * sxx - sx * sx = 0 THEN NULL
       ELSE CAST(sy * sxx - sx * sxy AS DOUBLE)
         / CAST(n_hours * sxx - sx * sx AS DOUBLE) END
         AS intercept_cents
FROM sums
"""


def q_user_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G2 — exact triangle census of the user co-activity graph (same
    capped edge builder as events_pagerank), via the degree-ordered
    node-iterator: orient edges low→high in the (degree, id) total
    order, join oriented wedges against oriented edges. All counters
    BIGINT; clustering = 3T/W is one exact-integer division
    (operators/graph.triangle_stats has the 100 TB analysis)."""
    from floatchat_datapipeline_spark.operators.graph import (
        coactivity_edges,
        triangle_stats,
    )

    return triangle_stats(
        coactivity_edges(
            load_table(spark, sf_dir, "events"), cache_key=sf_dir
        )
    )


_USER_TRIANGLES_ORACLE = """
WITH members AS (
  SELECT DISTINCT event_type,
         epoch_us(ts) // 600000000 AS h, user_id
  FROM events
), capped AS (
  SELECT event_type, h, user_id FROM (
    SELECT *, row_number() OVER (
      PARTITION BY event_type, h ORDER BY user_id) AS rn
    FROM members)
  WHERE rn <= 64
), edges0 AS (
  SELECT DISTINCT a.user_id AS src, b.user_id AS dst
  FROM capped a JOIN capped b
    ON a.event_type = b.event_type AND a.h = b.h
   AND a.user_id <> b.user_id
), und AS (
  SELECT src, dst FROM edges0 WHERE src < dst
), deg AS (
  SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
  FROM edges0 GROUP BY src
), o AS (
  SELECT CASE WHEN ds.deg < dd.deg
                OR (ds.deg = dd.deg AND u.src < u.dst)
              THEN u.src ELSE u.dst END AS a,
         CASE WHEN ds.deg < dd.deg
                OR (ds.deg = dd.deg AND u.src < u.dst)
              THEN u.dst ELSE u.src END AS b,
         CASE WHEN ds.deg < dd.deg
                OR (ds.deg = dd.deg AND u.src < u.dst)
              THEN dd.deg ELSE ds.deg END AS db
  FROM und u
  JOIN deg ds ON ds.node = u.src
  JOIN deg dd ON dd.node = u.dst
), wedge AS (
  SELECT w1.b AS x, w2.b AS y
  FROM o w1 JOIN o w2 ON w1.a = w2.a
  WHERE w1.db < w2.db OR (w1.db = w2.db AND w1.b < w2.b)
), tri AS (
  SELECT CAST(count(*) AS BIGINT) AS n_triangles
  FROM wedge w
  WHERE EXISTS (SELECT 1 FROM o WHERE o.a = w.x AND o.b = w.y)
), stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_nodes,
         CAST(sum(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges
  FROM deg
), ecnt AS (
  SELECT CAST(count(*) AS BIGINT) AS n_edges FROM und
)
SELECT n_nodes, n_edges, n_wedges, n_triangles,
       3.0 * n_triangles / n_wedges AS global_clustering
FROM stats, ecnt, tri
"""


def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A26 — single-pass column profiler over events + documents: per
    column null count, exact distinct cardinality, and (strings) total
    length — the Deequ/Great-Expectations profile op
    (operators/profiling.profile_tables; swap exact=False for the HLL
    form at 100 TB)."""
    from floatchat_datapipeline_spark.operators.profiling import (
        profile_tables,
    )

    ev = load_table(spark, sf_dir, "events")
    docs = load_table(spark, sf_dir, "documents")
    return profile_tables(
        [
            (
                "events",
                ev,
                ["event_id", "user_id", "event_type", "value", "props"],
            ),
            (
                "documents",
                docs,
                ["doc_id", "lang", "source", "n_chars", "text"],
            ),
        ]
    )


def _profile_oracle() -> str:
    cols = {
        "events": [
            ("event_id", False),
            ("user_id", False),
            ("event_type", True),
            ("value", False),
            ("props", True),
        ],
        "documents": [
            ("doc_id", False),
            ("lang", True),
            ("source", True),
            ("n_chars", False),
            ("text", True),
        ],
    }
    parts = []
    for tbl, cs in cols.items():
        for c, is_str in cs:
            slen = (
                f"CAST(sum(length({c})) AS BIGINT)"
                if is_str
                else "CAST(NULL AS BIGINT)"
            )
            parts.append(
                f"SELECT '{tbl}' AS table_name, '{c}' AS column, "
                f"       CAST(count(*) AS BIGINT) AS n_rows, "
                f"       CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)"
                f" AS BIGINT) AS n_null, "
                f"       CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct, "
                f"       {slen} AS sum_len "
                f"FROM {tbl}"
            )
    return " UNION ALL ".join(parts)


_TABLE_PROFILE_ORACLE = _profile_oracle()


def q_geo_close_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J17 — spatial all-pairs-within-250km over hash-derived customer
    coordinates, via the 3×3 grid-bucket equi-join (the spatial LSH
    band: one shuffle on the cell key, constant 9× fan-out, no cross
    join). Distances round to integer meters BEFORE the radius gate and
    the per-cell sums, so both engines admit the same pairs and sum the
    same BIGINTs (operators/spatial.grid_close_pairs)."""
    from floatchat_datapipeline_spark.operators.spatial import (
        grid_close_pairs,
        hash_coords,
    )

    pts = hash_coords(
        load_table(spark, sf_dir, "customer"), "c_custkey"
    ).withColumnRenamed("c_custkey", "id")
    return grid_close_pairs(pts)


_GEO_CLOSE_PAIRS_ORACLE = """
WITH pts AS (
  SELECT c_custkey AS id,
         (CAST('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 15)
               AS BIGINT) % 1200000) / 10000.0 - 60.0 AS lat,
         (CAST('0x' || substr(md5('lon|' || CAST(c_custkey AS VARCHAR)),
                              1, 15)
               AS BIGINT) % 3600000) / 10000.0 - 180.0 AS lon
  FROM customer
), home AS (
  -- lon cell wraps mod 72 so antimeridian-straddling pairs are adjacent
  SELECT id, lat, lon,
         CAST(floor(lat / 5.0) AS INT) AS cy,
         CAST(((CAST(floor(lon / 5.0) AS INT) + 36) % 72 + 72) % 72 - 36
              AS INT) AS cx
  FROM pts
), probe AS (
  SELECT h.id, h.lat, h.lon, h.cy + dy.k AS cy,
         CAST(((h.cx + dx.k + 36) % 72 + 72) % 72 - 36 AS INT) AS cx
  FROM home h,
       (SELECT unnest(range(-1, 2)) AS k) dy,
       (SELECT unnest(range(-1, 2)) AS k) dx
), cand AS (
  SELECT b.cy, b.cx,
         CAST(round(2 * 6371.0 * asin(sqrt(
             pow(sin(radians(b.lat - a.lat) / 2), 2)
             + cos(radians(a.lat)) * cos(radians(b.lat))
               * pow(sin(radians(b.lon - a.lon) / 2), 2)
         )) * 1000.0) AS BIGINT) AS dist_m
  FROM probe a JOIN home b
    ON a.cy = b.cy AND a.cx = b.cx AND a.id < b.id
)
SELECT cy AS cell_lat, cx AS cell_lon,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(dist_m) AS BIGINT) AS sum_dist_m
FROM cand WHERE dist_m <= 250000
GROUP BY 1, 2
"""


def q_part_revenue_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A27 — Pareto/ABC inventory classification: parts ranked by
    discounted revenue, classified A/B/C at 80 %/95 % cumulative share.
    The raw fact collapses to one row per part FIRST (the only shuffle
    over lineitem, partial-aggregable); the cumulative sum then runs
    over the collapsed PART domain via the RANGE-PARTITIONED two-phase
    cumsum (plans/scale.ranged_cumsum) — per-range local windows +
    broadcast prefix offsets, so no single-partition global sort exists
    even when the part domain itself is huge. Share gates cross-multiply
    exact cents (cum·100 ≤ total·80): no floats."""
    from floatchat_datapipeline_spark.plans.scale import ranged_cumsum

    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
            ).cast("long")
        ).alias("cents")
    )
    total = rev.agg(F.sum("cents").alias("t"))
    cum = ranged_cumsum(
        rev, [F.desc("cents"), F.col("l_partkey")], "cents", out_col="c"
    ).crossJoin(F.broadcast(total))
    cls = (
        F.when(F.col("c") * 100 <= F.col("t") * 80, F.lit("A"))
        .when(F.col("c") * 100 <= F.col("t") * 95, F.lit("B"))
        .otherwise(F.lit("C"))
    )
    return (
        cum.select(cls.alias("abc_class"), "cents")
        .groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("cents").alias("sum_cents"),
        )
    )


_PART_REVENUE_ABC_ORACLE = """
WITH rev AS (
  SELECT l_partkey,
         CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                       AS BIGINT)) AS BIGINT) AS cents
  FROM lineitem GROUP BY 1
), tot AS (
  SELECT CAST(sum(cents) AS BIGINT) AS t FROM rev
), cum AS (
  SELECT cents,
         CAST(sum(cents) OVER (
           ORDER BY cents DESC, l_partkey ROWS UNBOUNDED PRECEDING)
           AS BIGINT) AS c
  FROM rev
)
SELECT CASE WHEN c * 100 <= t * 80 THEN 'A'
            WHEN c * 100 <= t * 95 THEN 'B'
            ELSE 'C' END AS abc_class,
       CAST(count(*) AS BIGINT) AS n_parts,
       CAST(sum(cents) AS BIGINT) AS sum_cents
FROM cum, tot GROUP BY 1
"""


def q_lineitem_weighted_median(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """A28 — exact quantity-weighted median price per (returnflag,
    linestatus): collapse to per-distinct-price weight totals (the only
    fact pass), one per-group window cumsum over the collapsed value
    domain, lower-median pick by integer cross-multiply
    (operators/aggregate.weighted_median)."""
    from floatchat_datapipeline_spark.operators.aggregate import (
        weighted_median,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_linestatus",
        F.round(F.col("l_extendedprice") * 100)
        .cast("long")
        .alias("price_cents"),
        F.col("l_quantity").alias("qty"),
    )
    return weighted_median(
        li, ["l_returnflag", "l_linestatus"], "price_cents", "qty"
    )


_LINEITEM_WEIGHTED_MEDIAN_ORACLE = """
WITH byval AS (
  SELECT l_returnflag, l_linestatus,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
  FROM lineitem GROUP BY 1, 2, 3
), cum AS (
  SELECT l_returnflag, l_linestatus, price_cents,
         CAST(sum(w) OVER (
           PARTITION BY l_returnflag, l_linestatus
           ORDER BY price_cents ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS cumw,
         CAST(sum(w) OVER (
           PARTITION BY l_returnflag, l_linestatus) AS BIGINT) AS totw
  FROM byval
)
SELECT l_returnflag, l_linestatus,
       CAST(min(price_cents) AS BIGINT) AS w_median,
       CAST(max(totw) AS BIGINT) AS total_weight
FROM cum WHERE 2 * cumw >= totw
GROUP BY 1, 2
"""


def q_corpus_mixing_allocation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """L19 — largest-remainder apportionment of a 1M-unit training
    budget across sources ∝ char mass: integer base quotas + top-up of
    the largest remainders, Σ alloc = budget exactly
    (operators/sampling.mixing_allocation; all-BIGINT, dim-sized
    window)."""
    from floatchat_datapipeline_spark.operators.sampling import (
        mixing_allocation,
    )

    return mixing_allocation(load_table(spark, sf_dir, "documents"))


_CORPUS_MIXING_ALLOCATION_ORACLE = """
WITH per AS (
  SELECT source, CAST(sum(n_chars) AS BIGINT) AS mass
  FROM documents GROUP BY 1
), tot AS (
  SELECT CAST(sum(mass) AS BIGINT) AS m FROM per
), j AS (
  SELECT source, mass,
         CAST(1000000 * mass // m AS BIGINT) AS base,
         CAST((1000000 * mass) % m AS BIGINT) AS rem
  FROM per, tot
), lo AS (
  SELECT CAST(1000000 - sum(base) AS BIGINT) AS l FROM j
), rk AS (
  SELECT source, mass, base,
         row_number() OVER (ORDER BY rem DESC, source) AS r
  FROM j
)
SELECT source, mass,
       CAST(base + CASE WHEN r <= l THEN 1 ELSE 0 END AS BIGINT) AS alloc
FROM rk, lo
"""


def q_doc_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L20 — per-doc character Shannon entropy + low-entropy gibberish
    flag (operators/langmodel.char_entropy; exact integer char counts,
    1e-6-rounded nats, flag on the ROUNDED value)."""
    from floatchat_datapipeline_spark.operators.langmodel import (
        char_entropy,
    )

    return char_entropy(load_table(spark, sf_dir, "documents"))


_DOC_CHAR_ENTROPY_ORACLE = """
WITH chars AS (
  SELECT doc_id, substr(text, CAST(i AS INT), 1) AS ch
  FROM documents,
       LATERAL (SELECT unnest(range(1, length(text) + 1)) AS i)
), counts AS (
  SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS k
  FROM chars GROUP BY 1, 2
), ent AS (
  SELECT doc_id, CAST(sum(k) AS BIGINT) AS n,
         sum(CAST(k AS DOUBLE) * ln(CAST(k AS DOUBLE))) AS s
  FROM counts GROUP BY 1
)
SELECT doc_id, n AS n_chars_counted,
       round(ln(CAST(n AS DOUBLE)) - s / CAST(n AS DOUBLE), 6) AS entropy,
       (round(ln(CAST(n AS DOUBLE)) - s / CAST(n AS DOUBLE), 6) < 2.0)
         AS low_entropy
FROM ent
"""


def q_events_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A29 — first-half vs second-half categorical distribution drift
    per event_type, shares compared by exact BIGINT cross-multiply
    (operators/profiling.distribution_drift)."""
    from floatchat_datapipeline_spark.operators.profiling import (
        distribution_drift,
    )

    return distribution_drift(load_table(spark, sf_dir, "events"))


_EVENTS_DRIFT_ORACLE = """
WITH b AS (
  SELECT (CAST(epoch_us(min(ts)) AS BIGINT)
          + CAST(epoch_us(max(ts)) AS BIGINT)) // 2 AS mid
  FROM events
), per AS (
  SELECT event_type,
         CAST(sum(CASE WHEN epoch_us(ts) <= mid THEN 1 ELSE 0 END)
              AS BIGINT) AS n_first,
         CAST(sum(CASE WHEN epoch_us(ts) > mid THEN 1 ELSE 0 END)
              AS BIGINT) AS n_second
  FROM events, b GROUP BY 1
), tot AS (
  SELECT CAST(sum(n_first) AS BIGINT) AS t1,
         CAST(sum(n_second) AS BIGINT) AS t2
  FROM per
)
SELECT event_type, n_first, n_second,
       (100 * abs(n_first * t2 - n_second * t1) > 5 * t1 * t2) AS drifted
FROM per, tot
"""


def q_events_new_vs_returning(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """A30 — daily growth accounting: active users split new vs
    returning, plus cumulative distinct users to date (= Σ n_new, since
    each user is new exactly once — no sliding distinct needed)
    (operators/windows.new_vs_returning)."""
    from floatchat_datapipeline_spark.operators.windows import (
        new_vs_returning,
    )

    return new_vs_returning(load_table(spark, sf_dir, "events"))


_EVENTS_NEW_VS_RETURNING_ORACLE = """
WITH daily AS (
  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
), first AS (
  SELECT user_id, min(day) AS f FROM daily GROUP BY 1
), per AS (
  SELECT d.day,
         CAST(count(*) AS BIGINT) AS n_active,
         CAST(sum(CASE WHEN d.day = f.f THEN 1 ELSE 0 END) AS BIGINT)
           AS n_new
  FROM daily d JOIN first f USING (user_id)
  GROUP BY 1
)
SELECT CAST(day AS VARCHAR) AS day, n_active, n_new,
       n_active - n_new AS n_returning,
       CAST(sum(n_new) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS cum_users
FROM per
"""


def q_geo_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J18 — grid-cell density hotspots over the hash-derived customer
    coordinates: 3×3 neighborhood smoothing on the CELL domain, hotspot
    gate 9·n > 2·nb_sum in exact integers
    (operators/spatial.grid_hotspots)."""
    from floatchat_datapipeline_spark.operators.spatial import (
        grid_hotspots,
        hash_coords,
    )

    pts = hash_coords(
        load_table(spark, sf_dir, "customer"), "c_custkey"
    ).withColumnRenamed("c_custkey", "id")
    return grid_hotspots(pts)


_GEO_HOTSPOTS_ORACLE = """
WITH pts AS (
  SELECT (CAST('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 15)
               AS BIGINT) % 1200000) / 10000.0 - 60.0 AS lat,
         (CAST('0x' || substr(md5('lon|' || CAST(c_custkey AS VARCHAR)),
                              1, 15)
               AS BIGINT) % 3600000) / 10000.0 - 180.0 AS lon
  FROM customer
), cells AS (
  -- lon cell wraps mod 72: antimeridian cells smooth across the seam
  SELECT CAST(floor(lat / 5.0) AS INT) AS cy,
         CAST(((CAST(floor(lon / 5.0) AS INT) + 36) % 72 + 72) % 72 - 36
              AS INT) AS cx,
         CAST(count(*) AS BIGINT) AS n
  FROM pts GROUP BY 1, 2
), probe AS (
  SELECT c.cy + dy.k AS cy,
         CAST(((c.cx + dx.k + 36) % 72 + 72) % 72 - 36 AS INT) AS cx,
         c.n AS nn
  FROM cells c,
       (SELECT unnest(range(-1, 2)) AS k) dy,
       (SELECT unnest(range(-1, 2)) AS k) dx
), nb AS (
  SELECT cy, cx, CAST(sum(nn) AS BIGINT) AS nb_sum
  FROM probe GROUP BY 1, 2
)
SELECT c.cy AS cell_lat, c.cx AS cell_lon, c.n, nb.nb_sum,
       (9 * c.n > 2 * nb.nb_sum) AS is_hotspot
FROM cells c JOIN nb ON c.cy = nb.cy AND c.cx = nb.cx
"""


def q_events_ab_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A31 — A/B experiment lift report over a deterministic variant
    assignment (user_id parity stands in for the experiment system's
    bucket column). Per event_type: per-variant event counts and exact
    cents mass, the mean-value lift ratio — ONE IEEE division of two
    exact BIGINT cross-products — and a ≥5 % lift gate evaluated
    entirely by integer cross-multiplication (cents_b·n_a·100 >
    105·cents_a·n_b), so the boolean can never drift between engines.
    One partial-aggregable rollup; everything after is
    (types × 2)-sized. Products stay ≪ 2^63 at test scales; at extreme
    masses pre-scale cents by a common divisor (only ratios matter)."""
    ev = load_table(spark, sf_dir, "events")
    per = ev.groupBy(
        "event_type", (F.col("user_id") % 2).alias("_v")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
    )
    a = per.filter(F.col("_v") == 0).select(
        "event_type",
        F.col("n").alias("n_a"),
        F.col("cents").alias("cents_a"),
    )
    b = per.filter(F.col("_v") == 1).select(
        "event_type",
        F.col("n").alias("n_b"),
        F.col("cents").alias("cents_b"),
    )
    j = a.join(b, "event_type")
    return j.select(
        "event_type",
        "n_a",
        "n_b",
        "cents_a",
        "cents_b",
        (
            (F.col("cents_b") * F.col("n_a")).cast("double")
            / (F.col("cents_a") * F.col("n_b")).cast("double")
        ).alias("mean_lift"),
        (
            F.col("cents_b") * F.col("n_a") * 100
            > F.lit(105) * F.col("cents_a") * F.col("n_b")
        ).alias("lifted_5pct"),
    )


_EVENTS_AB_LIFT_ORACLE = """
WITH per AS (
  SELECT event_type, user_id % 2 AS v,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY 1, 2
)
SELECT a.event_type, a.n AS n_a, b.n AS n_b,
       a.cents AS cents_a, b.cents AS cents_b,
       CAST(b.cents * a.n AS DOUBLE) / CAST(a.cents * b.n AS DOUBLE)
         AS mean_lift,
       (b.cents * a.n * 100 > 105 * a.cents * b.n) AS lifted_5pct
FROM per a JOIN per b ON a.event_type = b.event_type
WHERE a.v = 0 AND b.v = 1
"""


def q_events_theilsen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A32 — Theil–Sen robust trend per event_type: the median of all
    pairwise hourly slopes (y in exact cents, x the raw hour index —
    slopes depend only on index differences, so no rebase is needed),
    immune to the outlier hours that tilt the A25 OLS fit. Each slope is
    ONE IEEE division of two exact BIGINTs, rounded 1e-9 (the parity
    convention for derived floats), and the median is the exact lower
    weighted median (smallest v with 2·cumw(v) ≥ W — the
    operators/aggregate.weighted_median semantics, read off the sorted
    raw slope rows at last-of-ties positions so tie order can never
    matter). The pair stage is an equi-join on event_type over the
    HOURLY rollup (≤ n_hours² pairs per type, never the raw log); at
    horizons where n_hours² is too big, Theil–Sen's standard remedies —
    pair sampling or the repeated-median variant — drop in without
    changing this plan's shape."""
    from pyspark.sql import Window

    from floatchat_datapipeline_spark.functions.eventtime import (
        epoch_micros,
        long_div,
    )
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        long_div(
            epoch_micros(F.date_trunc("hour", F.col("ts"))), 3_600_000_000
        ).alias("hx"),
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("y"))
    # No x0 rebase: the slope uses only DIFFERENCES, and
    # (x2−x0)−(x−x0) = x2−x exactly (integers), so the min-hour scalar
    # join the r12 form carried on both sides of the self-join was
    # mathematically inert — its only effect was defeating exchange
    # reuse, which made each join side re-run the raw scan + hourly
    # rollup + x0 (4 full scans). With both sides now pure renames of
    # the SAME rollup, the pair join reuses one exchange and one scan
    # (oracle unchanged — its rebase cancels identically).
    h = hourly.select("event_type", F.col("hx").alias("x"), "y")
    h2 = h.select(
        "event_type", F.col("x").alias("x2"), F.col("y").alias("y2")
    )
    slopes = (
        h.join(F.broadcast(h2), "event_type")
        .filter(F.col("x") < F.col("x2"))
        .select(
            "event_type",
            F.round(
                (F.col("y2") - F.col("y")).cast("double")
                / (F.col("x2") - F.col("x")).cast("double"),
                9,
            ).alias("slope"),
        )
    )
    # Median tail on the RAW slope rows, not the (event_type, slope)
    # collapsed rollup: slopes are 9dp-rounded quotients of ~unique
    # pairs, so the collapse barely collapses (1,278,592 distinct of
    # 1,294,200 pairs at sf0.1) and weighted_median's byval groupBy
    # paid a full 1.3M-key hash agg + exchange for nothing. Instead
    # sort once per event_type and read the weighted median off the
    # row domain: cumw(v) = count of rows <= v = row_number at the
    # LAST row of each tied value (last-of-ties = lead(slope) differs
    # or is NULL), so filtering those rows on 2·rn >= W and taking
    # min(slope) is exactly weighted_median's "smallest v with
    # 2·cumw(v) >= W" (parity-probed against weighted_median at sf0.1
    # and oracle-verified; -0.0 cannot arise — the numerator is a
    # BIGINT difference). One exchange + one sort replaces two
    # exchanges + hash agg + sort: A/B 3.3-3.9 s -> 2.1-2.6 s.
    w_ord = Window.partitionBy("event_type").orderBy("slope")
    w_all = Window.partitionBy("event_type")
    ranked = slopes.select(
        "event_type",
        "slope",
        F.row_number().over(w_ord).alias("_rn"),
        F.lead("slope").over(w_ord).alias("_nxt"),
        F.count(F.lit(1)).over(w_all).alias("_W"),
    )
    return (
        ranked.filter(
            (F.col("_nxt").isNull() | (F.col("_nxt") != F.col("slope")))
            & (2 * F.col("_rn") >= F.col("_W"))
        )
        .groupBy("event_type")
        .agg(
            F.max("_W").alias("n_pairs"),
            F.min("slope").alias("ts_slope"),
        )
    )


_EVENTS_THEILSEN_TREND_ORACLE = """
WITH hourly AS (
  SELECT event_type, epoch_us(date_trunc('hour', ts)) // 3600000000 AS hx,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
), x0 AS (
  SELECT CAST(min(hx) AS BIGINT) AS x0 FROM hourly
), h AS (
  SELECT event_type, CAST(hx - x0 AS BIGINT) AS x, y FROM hourly, x0
), slopes AS (
  SELECT a.event_type,
         round(CAST(b.y - a.y AS DOUBLE) / CAST(b.x - a.x AS DOUBLE), 9)
           AS slope
  FROM h a JOIN h b
    ON a.event_type = b.event_type AND a.x < b.x
), byval AS (
  SELECT event_type, slope, CAST(count(*) AS BIGINT) AS w
  FROM slopes GROUP BY 1, 2
), cum AS (
  SELECT event_type, slope,
         CAST(sum(w) OVER (
           PARTITION BY event_type
           ORDER BY slope ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumw,
         CAST(sum(w) OVER (PARTITION BY event_type) AS BIGINT) AS totw
  FROM byval
)
SELECT event_type, CAST(max(totw) AS BIGINT) AS n_pairs,
       min(slope) AS ts_slope
FROM cum WHERE 2 * cumw >= totw
GROUP BY 1
"""


def q_doc_bottomk_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L21 — exact-k deterministic per-source sample (bottom-k by salted
    md5-long): the eval-set construction primitive — same k rows per
    stratum on every rerun and in the oracle
    (operators/sampling.bottomk_sample)."""
    from floatchat_datapipeline_spark.operators.sampling import (
        bottomk_sample,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    return bottomk_sample(docs)


_DOC_BOTTOMK_SAMPLE_ORACLE = """
WITH h AS (
  SELECT doc_id, source, n_chars,
         CAST('0x' || substr(md5('bk1|' || CAST(doc_id AS VARCHAR)), 1, 15)
              AS BIGINT) AS hv
  FROM documents
), rk AS (
  SELECT doc_id, source, n_chars,
         row_number() OVER (
           PARTITION BY source ORDER BY hv, doc_id) AS r
  FROM h
)
SELECT doc_id, source, n_chars FROM rk WHERE r <= 10
"""


def q_user_reach_horizon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G3 — BFS blast radius on the co-activity graph: from the 5
    lowest-id users, how many NEW users become reachable at hops 1-3
    (operators/graph.k_hop_counts; set-algebra-only iterations, memoized
    edge list shared with pagerank/triangles)."""
    from floatchat_datapipeline_spark.operators.graph import (
        coactivity_edges,
        k_hop_counts,
    )

    edges = coactivity_edges(
        load_table(spark, sf_dir, "events"), cache_key=sf_dir
    )
    seeds = (
        edges.select(F.col("src").alias("seed"))
        .distinct()
        .orderBy("seed")
        .limit(5)
    )
    return k_hop_counts(edges, seeds, k=3)


_USER_REACH_HORIZON_ORACLE = """
WITH members AS (
  SELECT DISTINCT event_type,
         epoch_us(ts) // 600000000 AS h, user_id
  FROM events
), capped AS (
  SELECT event_type, h, user_id FROM (
    SELECT *, row_number() OVER (
      PARTITION BY event_type, h ORDER BY user_id) AS rn
    FROM members)
  WHERE rn <= 64
), edges0 AS (
  SELECT DISTINCT a.user_id AS src, b.user_id AS dst
  FROM capped a JOIN capped b
    ON a.event_type = b.event_type AND a.h = b.h
   AND a.user_id <> b.user_id
), seeds AS (
  SELECT src AS seed FROM (
    SELECT DISTINCT src FROM edges0 ORDER BY src LIMIT 5)
), v0 AS (
  SELECT seed, seed AS node FROM seeds
), f1 AS (
  SELECT DISTINCT f.seed, e.dst AS node
  FROM v0 f JOIN edges0 e ON e.src = f.node
  WHERE NOT EXISTS (
    SELECT 1 FROM v0 v WHERE v.seed = f.seed AND v.node = e.dst)
), v1 AS (
  SELECT * FROM v0 UNION ALL SELECT * FROM f1
), f2 AS (
  SELECT DISTINCT f.seed, e.dst AS node
  FROM f1 f JOIN edges0 e ON e.src = f.node
  WHERE NOT EXISTS (
    SELECT 1 FROM v1 v WHERE v.seed = f.seed AND v.node = e.dst)
), v2 AS (
  SELECT * FROM v1 UNION ALL SELECT * FROM f2
), f3 AS (
  SELECT DISTINCT f.seed, e.dst AS node
  FROM f2 f JOIN edges0 e ON e.src = f.node
  WHERE NOT EXISTS (
    SELECT 1 FROM v2 v WHERE v.seed = f.seed AND v.node = e.dst)
)
SELECT seed, 1 AS hop, CAST(count(*) AS BIGINT) AS n_new
FROM f1 GROUP BY 1
UNION ALL
SELECT seed, 2 AS hop, CAST(count(*) AS BIGINT) AS n_new
FROM f2 GROUP BY 1
UNION ALL
SELECT seed, 3 AS hop, CAST(count(*) AS BIGINT) AS n_new
FROM f3 GROUP BY 1
"""


def q_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS11 — conversion-latency report: exact R-7 percentiles (p50/p90)
    of the per-user stage-to-stage gap, in integer seconds, for each
    funnel transition. Builds on the TS3 funnel (per-user conditional
    min timestamps); gaps are exact BIGINT second diffs, so the
    percentile interpolation is the only float — R-7 on exact ints is
    bit-identical cross-engine (the A9 rule). At 100 TB swap
    `percentile` for the approx_percentile certificate pattern."""
    from floatchat_datapipeline_spark.functions.eventtime import epoch_micros
    from floatchat_datapipeline_spark.operators.timeseries import event_funnel

    f = event_funnel(load_table(spark, sf_dir, "events"))
    pairs = [("view", "click"), ("click", "purchase")]
    out = None
    for a, b in pairs:
        gap = (
            (epoch_micros(F.col(f"{b}_ts")) - epoch_micros(F.col(f"{a}_ts")))
            / F.lit(1_000_000)
        ).cast("bigint")
        d = (
            f.filter(F.col(f"{b}_ts").isNotNull())
            .select(gap.alias("gap_s"))
            .agg(
                F.count(F.lit(1)).alias("n_converted"),
                F.expr(
                    "percentile(gap_s, array(0.5e0, 0.9e0))"
                ).alias("_p"),
                F.max("gap_s").alias("max_s"),
            )
            .select(
                F.lit(f"{a}->{b}").alias("stage"),
                "n_converted",
                F.element_at("_p", 1).alias("p50_s"),
                F.element_at("_p", 2).alias("p90_s"),
                "max_s",
            )
        )
        out = d if out is None else out.unionByName(d)
    return out


_FUNNEL_LATENCY_ORACLE = """
WITH s1 AS (
  SELECT user_id, min(ts) AS view_ts
  FROM events WHERE event_type = 'view' GROUP BY user_id
), s2 AS (
  SELECT e.user_id, min(e.ts) AS click_ts
  FROM events e JOIN s1 ON e.user_id = s1.user_id AND e.ts >= s1.view_ts
  WHERE e.event_type = 'click' GROUP BY e.user_id
), s3 AS (
  SELECT e.user_id, min(e.ts) AS purchase_ts
  FROM events e JOIN s2 ON e.user_id = s2.user_id AND e.ts >= s2.click_ts
  WHERE e.event_type = 'purchase' GROUP BY e.user_id
), f AS (
  SELECT s1.user_id, view_ts, click_ts, purchase_ts
  FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
), g1 AS (
  SELECT (epoch_us(click_ts) - epoch_us(view_ts)) // 1000000 AS gap_s
  FROM f WHERE click_ts IS NOT NULL
), g2 AS (
  SELECT (epoch_us(purchase_ts) - epoch_us(click_ts)) // 1000000 AS gap_s
  FROM f WHERE purchase_ts IS NOT NULL
)
SELECT 'view->click' AS stage,
       CAST(count(*) AS BIGINT) AS n_converted,
       quantile_cont(gap_s, 0.5e0) AS p50_s,
       quantile_cont(gap_s, 0.9e0) AS p90_s,
       CAST(max(gap_s) AS BIGINT) AS max_s
FROM g1
UNION ALL
SELECT 'click->purchase' AS stage,
       CAST(count(*) AS BIGINT) AS n_converted,
       quantile_cont(gap_s, 0.5e0) AS p50_s,
       quantile_cont(gap_s, 0.9e0) AS p90_s,
       CAST(max(gap_s) AS BIGINT) AS max_s
FROM g2
"""


def q_events_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS12 — two-sided integer CUSUM changepoints over hourly cents per
    event_type (operators/timeseries.cusum_changepoints; BIGINT state,
    alarm-reset recurrence, recursive-CTE value oracle)."""
    from floatchat_datapipeline_spark.operators.timeseries import (
        cusum_changepoints,
    )

    return cusum_changepoints(load_table(spark, sf_dir, "events"))


_EVENTS_CUSUM_ORACLE = """
WITH RECURSIVE hourly AS (
  SELECT event_type, epoch_us(date_trunc('hour', ts)) // 3600000000 AS hx,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY 1, 2
), numbered AS (
  SELECT event_type, hx, cents,
         row_number() OVER (PARTITION BY event_type ORDER BY hx) AS rn
  FROM hourly
), tgt AS (
  SELECT event_type,
         CAST(sum(cents) // count(*) AS BIGINT) AS target
  FROM hourly GROUP BY 1
), rec AS (
  SELECT event_type, 0 AS rn,
         CAST(0 AS BIGINT) AS sp, CAST(0 AS BIGINT) AS sn,
         CAST(0 AS BIGINT) AS sp_at, CAST(0 AS BIGINT) AS sn_at,
         FALSE AS alarm, CAST(0 AS BIGINT) AS hx
  FROM tgt
  UNION ALL
  SELECT r.event_type, n.rn,
         CAST(CASE WHEN
                greatest(0, r.sp + (n.cents - t.target - t.target // 20))
                  > t.target
                OR greatest(0, r.sn + (t.target - t.target // 20 - n.cents))
                  > t.target
              THEN 0
              ELSE greatest(0, r.sp + (n.cents - t.target - t.target // 20))
              END AS BIGINT),
         CAST(CASE WHEN
                greatest(0, r.sp + (n.cents - t.target - t.target // 20))
                  > t.target
                OR greatest(0, r.sn + (t.target - t.target // 20 - n.cents))
                  > t.target
              THEN 0
              ELSE greatest(0, r.sn + (t.target - t.target // 20 - n.cents))
              END AS BIGINT),
         CAST(greatest(0, r.sp + (n.cents - t.target - t.target // 20))
              AS BIGINT),
         CAST(greatest(0, r.sn + (t.target - t.target // 20 - n.cents))
              AS BIGINT),
         (greatest(0, r.sp + (n.cents - t.target - t.target // 20))
            > t.target
          OR greatest(0, r.sn + (t.target - t.target // 20 - n.cents))
            > t.target),
         n.hx
  FROM rec r
  JOIN numbered n ON n.event_type = r.event_type AND n.rn = r.rn + 1
  JOIN tgt t ON t.event_type = r.event_type
)
SELECT r.event_type, r.hx, r.sp_at AS s_pos, r.sn_at AS s_neg,
       CASE WHEN r.sp_at > t.target THEN 'up' ELSE 'down' END AS direction
FROM rec r JOIN tgt t USING (event_type)
WHERE r.alarm
"""


def q_doc_ppjoin_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L22 — exact high-threshold near-dup pairs (Jaccard >= 1/2) via
    PREFIX FILTERING (AllPairs/PPJoin): only each doc's rarest
    n - ceil(n/2) + 1 shingles enter the candidate join, yet the output
    is IDENTICAL to the full O(n²) exact join — which is exactly what
    the oracle computes, so the driver hash certifies losslessness
    (operators/dedup.ppjoin_pairs; pair frame memoized as shared
    corpus state — _cached_pair_frame — for the D14 consumer)."""
    return _cached_pair_frame(spark, sf_dir, "ppjoin")


# The oracle is the UNFILTERED exact join at the same threshold — prefix
# filtering is lossless, so both sides must return the very same pairs.
_DOC_PPJOIN_PAIRS_ORACLE = f"""
WITH sh AS (
  SELECT doc_id,
         unnest(list_transform({_SHINGLES_3_SQL},
                               s -> {_MD5_LONG_SQL.format(x='s')})) AS tok
  FROM (SELECT doc_id, string_split(text, ' ') t FROM documents)
), sizes AS (
  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(n_inter::DOUBLE / (sa.n + sb.n - n_inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON id_a = sa.doc_id
JOIN sizes sb ON id_b = sb.doc_id
WHERE n_inter * 2 >= 1 * (sa.n + sb.n - n_inter)
"""


def q_events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS13 — first-touch vs last-touch revenue attribution: every
    purchase with at least one preceding click/view credits its exact
    cents to (a) the user's earliest touch channel and (b) the latest
    touch at-or-before the purchase. Last-touch is ONE as-of join
    (operators/timeseries.asof_join — union-merge, single shuffle on
    user_id, deterministic (ts, event_id) tie-break); first-touch is a
    struct-min per user joined back. Channel derives from the JSON
    props (`'ch' || k % 4`), so the whole report is a composition of
    already-pinned parity rules: JSON path extraction, exact cents,
    CAST(sum AS BIGINT)."""
    from floatchat_datapipeline_spark.operators.timeseries import asof_join
    from floatchat_datapipeline_spark.operators.windows import parse_props

    ev = parse_props(load_table(spark, sf_dir, "events"))
    channel = F.concat(F.lit("ch"), (F.col("prop_k") % 4).cast("string"))
    touch = ev.filter(F.col("event_type").isin("click", "view")).select(
        "user_id", "ts", "event_id", channel.alias("channel")
    )
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    lt = asof_join(
        purch,
        touch,
        on="user_id",
        payload_cols=("channel",),
        right_order_col="event_id",
        payload_prefix="lt_",
    ).filter(F.col("lt_channel").isNotNull())
    ft = (
        touch.groupBy("user_id")
        .agg(F.min(F.struct("ts", "event_id", "channel")).alias("_f"))
        .select("user_id", F.col("_f.channel").alias("ft_channel"))
    )
    attributed = lt.join(ft, "user_id")
    m_first = attributed.groupBy(
        F.lit("first_touch").alias("model"),
        F.col("ft_channel").alias("channel"),
    ).agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum("cents").alias("revenue_cents"),
    )
    m_last = attributed.groupBy(
        F.lit("last_touch").alias("model"),
        F.col("lt_channel").alias("channel"),
    ).agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum("cents").alias("revenue_cents"),
    )
    return m_first.unionByName(m_last)


_EVENTS_ATTRIBUTION_ORACLE = """
WITH touch AS (
  SELECT user_id, ts, event_id,
         'ch' || CAST(CAST(json_extract_string(props, '$.k') AS INT) % 4
                      AS VARCHAR) AS channel
  FROM events WHERE event_type IN ('click', 'view')
), purch AS (
  SELECT user_id, ts, CAST(round(value * 100) AS BIGINT) AS cents,
         event_id AS pid
  FROM events WHERE event_type = 'purchase'
), lt AS (
  SELECT p.pid, p.user_id, p.cents, t.channel AS lt_channel,
         row_number() OVER (
           PARTITION BY p.pid ORDER BY t.ts DESC, t.event_id DESC) AS rn
  FROM purch p JOIN touch t ON t.user_id = p.user_id AND t.ts <= p.ts
), ft AS (
  SELECT user_id, channel AS ft_channel FROM (
    SELECT user_id, channel,
           row_number() OVER (
             PARTITION BY user_id ORDER BY ts, event_id) AS rn
    FROM touch
  ) WHERE rn = 1
), attributed AS (
  SELECT l.pid, l.cents, l.lt_channel, f.ft_channel
  FROM lt l JOIN ft f USING (user_id) WHERE l.rn = 1
)
SELECT 'first_touch' AS model, ft_channel AS channel,
       CAST(count(*) AS BIGINT) AS n_purchases,
       CAST(sum(cents) AS BIGINT) AS revenue_cents
FROM attributed GROUP BY 2
UNION ALL
SELECT 'last_touch' AS model, lt_channel AS channel,
       CAST(count(*) AS BIGINT) AS n_purchases,
       CAST(sum(cents) AS BIGINT) AS revenue_cents
FROM attributed GROUP BY 2
"""


def q_market_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A33 — market-basket association over order contents: for every
    pair of part brands bought together in >= 3 orders, exact support
    and lift. All counting is BIGINT; support and lift are each ONE
    IEEE division of exact integers (`n_pair/total`,
    `(n_pair*total)/(n_a*n_b)`), so both engines produce bit-identical
    doubles. Scale shape: brand extraction is a key-partitioned join on
    l_partkey (AQE broadcasts at small SF), pairing is a SELF-join
    co-partitioned on l_orderkey with fan-out bounded by the basket
    size (<= 7 lineitems -> <= 21 pairs per order), never all-pairs
    across orders."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    # one (order, brand) frame feeds FOUR consumers (both self-join
    # sides, per-brand counts, the order total) — materialize once
    # (two-branch-recompute rule) instead of re-running the
    # lineitem-part join and distinct per consumer.
    ob = (
        li.join(part, li.l_partkey == part.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct()
        .localCheckpoint(eager=True)
    )
    a, b = ob.alias("a"), ob.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.p_brand") < F.col("b.p_brand")),
        )
        .groupBy(
            F.col("a.p_brand").alias("brand_a"),
            F.col("b.p_brand").alias("brand_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= 3)
    )
    brand_n = ob.groupBy("p_brand").agg(F.count(F.lit(1)).alias("n_brand"))
    total = ob.select(
        F.countDistinct("l_orderkey").alias("n_orders")
    )
    return (
        pairs.join(
            F.broadcast(brand_n.withColumnRenamed("p_brand", "brand_a")
                        .withColumnRenamed("n_brand", "n_a")),
            "brand_a",
        )
        .join(
            F.broadcast(brand_n.withColumnRenamed("p_brand", "brand_b")
                        .withColumnRenamed("n_brand", "n_b")),
            "brand_b",
        )
        .crossJoin(F.broadcast(total))
        .select(
            "brand_a",
            "brand_b",
            "n_pair",
            (F.col("n_pair") / F.col("n_orders")).alias("support"),
            (
                (F.col("n_pair") * F.col("n_orders"))
                / (F.col("n_a") * F.col("n_b"))
            ).alias("lift"),
        )
    )


_MARKET_BASKET_LIFT_ORACLE = """
WITH ob AS (
  SELECT DISTINCT l_orderkey, p_brand
  FROM lineitem JOIN part ON l_partkey = p_partkey
), pairs AS (
  SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
         CAST(count(*) AS BIGINT) AS n_pair
  FROM ob a JOIN ob b
    ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
  GROUP BY 1, 2
  HAVING count(*) >= 3
), brand_n AS (
  SELECT p_brand, CAST(count(*) AS BIGINT) AS n_brand FROM ob GROUP BY 1
), total AS (
  SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM ob
)
SELECT brand_a, brand_b, n_pair,
       n_pair / n_orders AS support,
       (n_pair * n_orders) / (na.n_brand * nb.n_brand) AS lift
FROM pairs
JOIN brand_n na ON na.p_brand = brand_a
JOIN brand_n nb ON nb.p_brand = brand_b
CROSS JOIN total
"""


def q_part_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A34 — Pareto frontier (skyline) per part type: a part survives
    iff no same-type part is <= its price AND >= its size with at least
    one strict inequality. O(n log n) window form — sort each type by
    exact price cents and compare against the running max size over
    strictly-cheaper rows (RANGE .. 1 PRECEDING) and over
    price-ties-inclusive rows (RANGE .. CURRENT ROW) — versus the
    oracle's O(n^2) NOT EXISTS, so the hash certifies the rewrite.
    One shuffle on p_type; no self-join."""
    from pyspark.sql import Window

    p = load_table(spark, sf_dir, "part").select(
        "p_type",
        "p_partkey",
        F.round(F.col("p_retailprice") * 100)
        .cast("long")
        .alias("price_cents"),
        F.col("p_size").cast("int").alias("p_size"),
    )
    w_lt = (
        Window.partitionBy("p_type")
        .orderBy("price_cents")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_le = (
        Window.partitionBy("p_type")
        .orderBy("price_cents")
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    return (
        p.withColumn("max_lt", F.max("p_size").over(w_lt))
        .withColumn("max_le", F.max("p_size").over(w_le))
        .filter(
            (F.col("max_lt").isNull() | (F.col("p_size") > F.col("max_lt")))
            & (F.col("p_size") == F.col("max_le"))
        )
        .select("p_type", "p_partkey", "price_cents", "p_size")
    )


_PART_SKYLINE_ORACLE = """
WITH p AS (
  SELECT p_type, p_partkey,
         CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents,
         CAST(p_size AS INT) AS p_size
  FROM part
)
SELECT a.p_type, a.p_partkey, a.price_cents, a.p_size
FROM p a
WHERE NOT EXISTS (
  SELECT 1 FROM p b
  WHERE b.p_type = a.p_type
    AND b.price_cents <= a.price_cents AND b.p_size >= a.p_size
    AND (b.price_cents < a.price_cents OR b.p_size > a.p_size)
)
"""


def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A35 — RFM customer segmentation: quartile each customer by
    recency (latest order date), frequency (order count), and monetary
    (exact cents), then census the 64 segments. NTILE(4) is
    deterministic in BOTH engines given a TOTAL order, so every ORDER
    BY carries o_custkey as the tie-break; quartile 1 = best.

    The quartiles are NOT single-partition NTILE windows (fatal at
    10^9 customers): each metric's global rank is ranged_cumsum of a
    ones column over the totalized order (descending metrics enter as
    negated integers), and NTILE's exact bucket rule — the first
    n mod k buckets take one extra row — is replayed in closed-form
    integer arithmetic from (rank, n, k), bit-identical to both
    engines' ntile (pinned by
    tests/test_round8_ops.py::test_rfm_ntile_closed_form and the
    rangepartitioning plan test)."""
    from floatchat_datapipeline_spark.functions.eventtime import (
        epoch_micros,
    )
    from floatchat_datapipeline_spark.plans.scale import ranged_cumsum

    cust = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("long")
            ).alias("cents"),
        )
        .select(
            "o_custkey",
            "cents",
            (-epoch_micros(F.col("last_order"))).alias("neg_rec"),
            (-F.col("n_orders")).alias("neg_freq"),
            (-F.col("cents")).alias("neg_mon"),
        )
        .withColumn("one", F.lit(1).cast("long"))
    )

    def _ldiv(a, b):
        # exact long division (non-negative operands): subtract the
        # remainder so the double division is an exact integer — the
        # long_div trick generalized to a Column divisor.
        return ((a - a % b) / b).cast("long")

    def _ntile4(rank: F.Column, n: F.Column) -> F.Column:
        # NTILE(k): first r = n % k buckets hold big = n div k + 1
        # rows, the rest hold small = n div k. Closed form from the
        # 1-based rank — exact integer replay of the window function.
        k = F.lit(4).cast("long")
        r = n % k
        floor_nk = _ldiv(n, k)
        big = floor_nk + 1
        small = F.greatest(floor_nk, F.lit(1).cast("long"))
        cutoff = r * big
        return (
            F.when(rank <= cutoff, _ldiv(rank - 1, big) + 1)
            .otherwise(r + _ldiv(rank - cutoff - 1, small) + 1)
            .cast("int")
        )

    ranked = ranged_cumsum(
        cust, order_cols=["neg_rec", "o_custkey"], value_col="one",
        out_col="r_rank",
    )
    ranked = ranged_cumsum(
        ranked, order_cols=["neg_freq", "o_custkey"], value_col="one",
        out_col="f_rank",
    )
    ranked = ranged_cumsum(
        ranked, order_cols=["neg_mon", "o_custkey"], value_col="one",
        out_col="m_rank",
    )
    total = cust.select(F.count(F.lit(1)).alias("n_cust"))
    n = F.col("n_cust")
    return (
        ranked.crossJoin(F.broadcast(total))
        .select(
            "cents",
            _ntile4(F.col("r_rank"), n).alias("r_q"),
            _ntile4(F.col("f_rank"), n).alias("f_q"),
            _ntile4(F.col("m_rank"), n).alias("m_q"),
        )
        .groupBy("r_q", "f_q", "m_q")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("cents").alias("monetary_cents"),
        )
    )


_RFM_SEGMENTS_ORACLE = """
WITH cust AS (
  SELECT o_custkey,
         max(o_orderdate) AS last_order,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
              AS BIGINT) AS cents
  FROM orders GROUP BY 1
), scored AS (
  SELECT o_custkey, cents,
         CAST(ntile(4) OVER (ORDER BY last_order DESC, o_custkey)
              AS INT) AS r_q,
         CAST(ntile(4) OVER (ORDER BY n_orders DESC, o_custkey)
              AS INT) AS f_q,
         CAST(ntile(4) OVER (ORDER BY cents DESC, o_custkey)
              AS INT) AS m_q
  FROM cust
)
SELECT r_q, f_q, m_q,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(cents) AS BIGINT) AS monetary_cents
FROM scored GROUP BY 1, 2, 3
"""


# Benford log10(1 + 1/d) shares as fixed 6-dp literals so neither
# engine's libm is in the parity path.
_BENFORD_EXPECTED = {
    1: 0.301030, 2: 0.176091, 3: 0.124939, 4: 0.096910, 5: 0.079181,
    6: 0.066947, 7: 0.057992, 8: 0.051153, 9: 0.045757,
}


def q_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A36 — Benford first-digit audit of order totals: the first
    significant digit of the exact cents value (string head of a
    positive BIGINT — no float log10 in the digit path), counted and
    compared to the Benford share. `share` is one division of exact
    BIGINTs; `expected` is a shared literal table; `excess` subtracts
    two bit-identical doubles. Map-side digit extraction + one 9-row
    hash agg — nothing shuffles more than 9 groups."""
    digit = F.substring(
        F.round(F.col("o_totalprice") * 100).cast("long").cast("string"),
        1,
        1,
    ).cast("int")
    expected = F.lit(None).cast("double")
    for d, p in _BENFORD_EXPECTED.items():
        expected = F.when(F.col("digit") == d, F.lit(p)).otherwise(expected)
    orders = load_table(spark, sf_dir, "orders")
    total = orders.select(F.count(F.lit(1)).alias("n_total"))
    return (
        orders.select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n",
            (F.col("n") / F.col("n_total")).alias("share"),
            expected.alias("expected"),
            ((F.col("n") / F.col("n_total")) - expected).alias("excess"),
        )
    )


_BENFORD_DIGITS_ORACLE = """
WITH d AS (
  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                          AS VARCHAR), 1, 1) AS INT) AS digit
  FROM orders
), counts AS (
  SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1
), total AS (
  SELECT CAST(count(*) AS BIGINT) AS n_total FROM d
), expected(digit, expected) AS (
  VALUES (1, 0.301030e0), (2, 0.176091e0), (3, 0.124939e0),
         (4, 0.096910e0), (5, 0.079181e0), (6, 0.066947e0),
         (7, 0.057992e0), (8, 0.051153e0), (9, 0.045757e0)
)
SELECT c.digit, c.n,
       c.n / t.n_total AS share,
       e.expected,
       (c.n / t.n_total) - e.expected AS excess
FROM counts c CROSS JOIN total t LEFT JOIN expected e USING (digit)
"""


def q_doc_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L23 — per-document top-3 TF-IDF terms (keyword extraction). The
    score is the raw-idf form `(tf * N) / df` — tf, N, df all exact
    BIGINTs, so the score is ONE IEEE division and bit-identical across
    engines; ranking totalizes ties by term. Shape: map-side explode,
    one (doc,term) partial-agg shuffle, a vocabulary-sized df agg that
    AQE broadcasts back onto tf, one window per doc — no self-joins."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    )
    # tf feeds both the df aggregate and the scored join — materialize
    # once (two-branch-recompute rule) rather than exploding the corpus
    # twice.
    tf = (
        tok.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=True)
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    total = docs.select(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "term",
            ((F.col("tf") * F.col("n_docs")) / F.col("df")).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "term")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", "rnk", "score")
    )


_DOC_TFIDF_TOPK_ORACLE = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
), tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM tok GROUP BY 1, 2
), dfreq AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
), total AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents
), scored AS (
  SELECT doc_id, term, (tf * n_docs) / df AS score
  FROM tf JOIN dfreq USING (term) CROSS JOIN total
)
SELECT doc_id, term, CAST(rnk AS INT) AS rnk, score FROM (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY score DESC, term) AS rnk
  FROM scored
) WHERE rnk <= 3
"""


def q_doc_editdist_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D8 — edit-distance near-dup pairs: JVM-side levenshtein (both
    engines implement classic Wagner-Fischer, exact integer) over
    48-char prefixes, candidates blocked by (lang, 64-char length band)
    with the posting-list rule — row_number caps each block at its
    first 64 docs by ascending doc_id, so one giant band can never go
    quadratic (the LSH/_cap_key_frequency discipline; the cap is part
    of the operator contract and the oracle replays it). Threshold 24
    sits in the measured gap between true dups (0) and the random-text
    noise floor (>= 26 at sf0.01)."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        (F.col("n_chars") / F.lit(64)).cast("long").alias("band"),
        F.substring(F.col("text"), 1, 48).alias("pre"),
    )
    w = Window.partitionBy("lang", "band").orderBy("doc_id")
    capped = (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 64)
        .drop("rn")
    )
    a, b = capped.alias("a"), capped.alias("b")
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            # Threshold form: banded O(len·24) DP that bails out early
            # (returns -1) instead of the full 48×48 matrix per pair —
            # most candidate pairs sit at the random-text noise floor
            # (>= 26), so they abandon the band without finishing it.
            # For surviving pairs (dist <= 24) the value is the exact
            # distance, identical to the 2-arg form the oracle keeps.
            F.levenshtein(F.col("a.pre"), F.col("b.pre"), 24).alias(
                "dist"
            ),
        )
        .filter(F.col("dist") >= 0)
    )


_DOC_EDITDIST_PAIRS_ORACLE = """
WITH d AS (
  SELECT doc_id, lang, n_chars // 64 AS band, substr(text, 1, 48) AS pre
  FROM documents
), capped AS (
  SELECT doc_id, lang, band, pre FROM (
    SELECT *, row_number() OVER (
      PARTITION BY lang, band ORDER BY doc_id) AS rn
    FROM d
  ) WHERE rn <= 64
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(levenshtein(a.pre, b.pre) AS INT) AS dist
FROM capped a JOIN capped b
  ON a.lang = b.lang AND a.band = b.band AND a.doc_id < b.doc_id
WHERE levenshtein(a.pre, b.pre) <= 24
"""


def q_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G4 — link prediction on the co-activity graph: for every
    NON-edge (u, v) sharing >= 1 neighbor, the Jaccard score
    |N(u) ∩ N(v)| / |N(u) ∪ N(v)| as ONE IEEE division of exact BIGINT
    counts; top 50 by (jaccard DESC, u, v) via TakeOrdered (no global
    sort materialization). Candidates generate IN-ARRAY from each
    pivot node's first-96-neighbor adjacency (the posting-list cap the
    oracle replays — the naive edge-edge join is sum(deg^2) = 118M
    candidate rows at sf0.1, measured 5x slower); existing edges are
    removed by a left-anti join. Shares the memoized edge list with
    pagerank/triangles (operators/graph.coactivity_edges, cache_key
    per corpus)."""
    from floatchat_datapipeline_spark.operators.graph import (
        coactivity_edges,
        link_prediction_scores,
    )

    ev = load_table(spark, sf_dir, "events")
    return link_prediction_scores(
        coactivity_edges(ev, cache_key=sf_dir), top_k=50
    )


_LINK_PREDICTION_ORACLE = """
WITH members AS (
  SELECT DISTINCT event_type,
         epoch_us(ts) // 600000000 AS h, user_id
  FROM events
), capped AS (
  SELECT event_type, h, user_id FROM (
    SELECT *, row_number() OVER (
      PARTITION BY event_type, h ORDER BY user_id) AS rn
    FROM members)
  WHERE rn <= 64
), edges0 AS (
  SELECT DISTINCT a.user_id AS src, b.user_id AS dst
  FROM capped a JOIN capped b
    ON a.event_type = b.event_type AND a.h = b.h
   AND a.user_id <> b.user_id
), deg AS (
  SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges0 GROUP BY src
), pcap AS (
  -- the pivot-adjacency cap (first 96 neighbors by ascending id) is
  -- part of the operator contract; degrees above stay exact
  SELECT src, dst FROM (
    SELECT src, dst,
           row_number() OVER (PARTITION BY src ORDER BY dst) AS rn
    FROM edges0
  ) WHERE rn <= 96
), cn AS (
  SELECT a.dst AS u, b.dst AS v, CAST(count(*) AS BIGINT) AS cn
  FROM pcap a JOIN pcap b
    ON a.src = b.src AND a.dst < b.dst
  GROUP BY 1, 2
), pred AS (
  SELECT u, v, cn FROM cn
  WHERE NOT EXISTS (
    SELECT 1 FROM edges0 e WHERE e.src = cn.u AND e.dst = cn.v)
)
SELECT u AS user_a, v AS user_b, cn AS common_neighbors,
       cn / (da.deg + db.deg - cn) AS jaccard
FROM pred
JOIN deg da ON da.src = u
JOIN deg db ON db.src = v
ORDER BY jaccard DESC, user_a, user_b
LIMIT 50
"""


def q_events_holt_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS14 — Holt level+trend smoothing over hourly cents per
    event_type (operators/timeseries.holt_linear; BIGINT fixed point,
    truncating division, recursive-CTE value oracle)."""
    from floatchat_datapipeline_spark.operators.timeseries import (
        holt_linear,
    )

    return holt_linear(load_table(spark, sf_dir, "events"))


_EVENTS_HOLT_TREND_ORACLE = """
WITH RECURSIVE hourly AS (
  SELECT event_type, epoch_us(date_trunc('hour', ts)) // 3600000000 AS hx,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY 1, 2
), numbered AS (
  SELECT event_type, hx, cents,
         row_number() OVER (PARTITION BY event_type ORDER BY hx) AS rn
  FROM hourly
), rec AS (
  SELECT event_type, rn, hx,
         cents AS level, CAST(0 AS BIGINT) AS trend
  FROM numbered WHERE rn = 1
  UNION ALL
  SELECT n.event_type, n.rn, n.hx,
         CAST((n.cents + 3 * (r.level + r.trend)) // 4 AS BIGINT),
         CAST((((n.cents + 3 * (r.level + r.trend)) // 4) - r.level
               + 3 * r.trend) // 4 AS BIGINT)
  FROM rec r
  JOIN numbered n ON n.event_type = r.event_type AND n.rn = r.rn + 1
)
SELECT event_type, hx, level, trend,
       CAST(level + trend AS BIGINT) AS forecast_next
FROM rec
"""


def q_gini_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A37 — Gini coefficient of customer spend concentration:
    G = (2*sum(i*x_i) - (n+1)*sum(x_i)) / (n*sum(x_i)) with x ascending
    exact cents and i the 1-based global rank. Everything stays BIGINT
    until ONE final IEEE division, so the coefficient is bit-identical
    cross-engine. The global rank is NOT a single-partition window: it
    is plans/scale.ranged_cumsum of a ones column over the total order
    (cents, custkey) — range-partitioned, spill-safe, the 100 TB form.
    (2^63 bound: sum(i*x_i) <= n^2 * max_cents — safe to ~10^9
    customers at 10^5-cent means; beyond that switch the two sums to
    DECIMAL(38,0).)"""
    from floatchat_datapipeline_spark.plans.scale import ranged_cumsum

    cust = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("long")
            ).alias("cents")
        )
        .withColumn("one", F.lit(1).cast("long"))
    )
    ranked = ranged_cumsum(
        cust, order_cols=["cents", "o_custkey"], value_col="one",
        out_col="rnk",
    )
    return ranked.agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("cents").alias("total_cents"),
        (
            (
                2 * F.sum(F.col("rnk") * F.col("cents"))
                - (F.count(F.lit(1)) + 1) * F.sum("cents")
            )
            / (F.count(F.lit(1)) * F.sum("cents"))
        ).alias("gini"),
    )


_GINI_SPEND_ORACLE = """
WITH cust AS (
  SELECT o_custkey,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
              AS BIGINT) AS cents
  FROM orders GROUP BY 1
), ranked AS (
  SELECT cents,
         CAST(row_number() OVER (ORDER BY cents, o_custkey)
              AS BIGINT) AS rnk
  FROM cust
)
SELECT CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(cents) AS BIGINT) AS total_cents,
       (2 * CAST(sum(rnk * cents) AS BIGINT)
        - (CAST(count(*) AS BIGINT) + 1) * CAST(sum(cents) AS BIGINT))
       / (CAST(count(*) AS BIGINT) * CAST(sum(cents) AS BIGINT)) AS gini
FROM ranked
"""


def q_source_unigram_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L24 — distribution drift between corpus sources as EXACT total
    variation distance of their unigram distributions:
    TVD(a, b) = sum_t |n_at*N_b - n_bt*N_a| / (2*N_a*N_b). The
    numerator is a sum of BIGINT cross-products (exact — no float
    accumulation order in the parity path), the divisor is applied
    ONCE. Terms are densified over the term×source grid so absences
    count as zeros on both engines. Shape: one token agg, a
    vocabulary×sources densify join, then a term-co-partitioned pair
    join — sources are few, the vocabulary carries the parallelism.
    (2^63 bound: per-term product <= N_a*N_b — exact to ~3*10^9 tokens
    per source.)"""
    tok = load_table(spark, sf_dir, "documents").select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("term")
    )
    counts = tok.groupBy("source", "term").agg(
        F.count(F.lit(1)).alias("n")
    )
    totals = counts.groupBy("source").agg(F.sum("n").alias("total"))
    grid = (
        counts.select("term")
        .distinct()
        .crossJoin(F.broadcast(totals))
    )
    dense = grid.join(counts, ["source", "term"], "left").select(
        "source", "term", "total", F.coalesce(F.col("n"), F.lit(0)).alias("n")
    )
    a, b = dense.alias("a"), dense.alias("b")
    return (
        a.join(
            b,
            (F.col("a.term") == F.col("b.term"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(
            F.sum(
                F.abs(
                    F.col("a.n") * F.col("b.total")
                    - F.col("b.n") * F.col("a.total")
                )
            ).alias("num"),
            F.max(F.col("a.total")).alias("ta"),
            F.max(F.col("b.total")).alias("tb"),
        )
        .select(
            "source_a",
            "source_b",
            (F.col("num") / (2 * F.col("ta") * F.col("tb"))).alias("tvd"),
        )
    )


_SOURCE_UNIGRAM_DRIFT_ORACLE = """
WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS term FROM documents
), counts AS (
  SELECT source, term, CAST(count(*) AS BIGINT) AS n
  FROM tok GROUP BY 1, 2
), totals AS (
  SELECT source, CAST(sum(n) AS BIGINT) AS total FROM counts GROUP BY 1
), grid AS (
  SELECT t.term, s.source, s.total
  FROM (SELECT DISTINCT term FROM counts) t CROSS JOIN totals s
), dense AS (
  SELECT g.source, g.term, g.total, COALESCE(c.n, 0) AS n
  FROM grid g LEFT JOIN counts c
    ON c.source = g.source AND c.term = g.term
)
SELECT a.source AS source_a, b.source AS source_b,
       CAST(sum(abs(a.n * b.total - b.n * a.total)) AS BIGINT)
         / (2 * max(a.total) * max(b.total)) AS tvd
FROM dense a JOIN dense b
  ON a.term = b.term AND a.source < b.source
GROUP BY 1, 2
"""


def q_events_capped_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS15 — gap + max-duration sessionization
    (operators/timeseries.capped_sessions; the duration cap makes the
    split a true recurrence — BIGINT epoch-second state, recursive-CTE
    value oracle)."""
    from floatchat_datapipeline_spark.operators.timeseries import (
        capped_sessions,
    )

    return capped_sessions(load_table(spark, sf_dir, "events"))


# epoch_us // 1000000 floors; epoch(ts)::BIGINT would ROUND the 10 % of
# events carrying sub-second micros and shift gap comparisons.
_EVENTS_CAPPED_SESSIONS_ORACLE = """
WITH RECURSIVE ev AS (
  SELECT user_id, epoch_us(ts) // 1000000 AS ts_s, event_id
  FROM events
), numbered AS (
  SELECT user_id, ts_s,
         row_number() OVER (
           PARTITION BY user_id ORDER BY ts_s, event_id) AS rn
  FROM ev
), rec AS (
  SELECT user_id, rn, ts_s,
         CAST(1 AS BIGINT) AS seq, ts_s AS start_s
  FROM numbered WHERE rn = 1
  UNION ALL
  SELECT n.user_id, n.rn, n.ts_s,
         CAST(CASE WHEN n.ts_s - r.ts_s > 1800
                     OR n.ts_s - r.start_s > 1800
                   THEN r.seq + 1 ELSE r.seq END AS BIGINT),
         CAST(CASE WHEN n.ts_s - r.ts_s > 1800
                     OR n.ts_s - r.start_s > 1800
                   THEN n.ts_s ELSE r.start_s END AS BIGINT)
  FROM rec r
  JOIN numbered n ON n.user_id = r.user_id AND n.rn = r.rn + 1
)
SELECT user_id, seq AS session_seq,
       CAST(min(start_s) AS BIGINT) AS start_s,
       CAST(max(ts_s) AS BIGINT) AS end_s,
       CAST(count(*) AS BIGINT) AS n_events
FROM rec GROUP BY 1, 2
"""


def q_events_cumulative_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A38 — product-adoption curve: per day, the count of FIRST-SEEN
    users and the running cumulative user total. Cumulative-distinct
    rewritten exactly: distinct-per-prefix = cumsum of first-occurrence
    rows (one min-day agg per user, one daily count), and the running
    total is plans/scale.ranged_cumsum over the day order — exact
    BIGINTs, no approximate distinct, no single-partition window."""
    from floatchat_datapipeline_spark.functions.eventtime import (
        epoch_micros,
        long_div,
    )
    from floatchat_datapipeline_spark.plans.scale import ranged_cumsum

    ev = load_table(spark, sf_dir, "events")
    first_day = ev.groupBy("user_id").agg(
        F.min(
            long_div(
                epoch_micros(F.date_trunc("day", F.col("ts"))),
                86_400_000_000,
            )
        ).alias("dx")
    )
    daily = first_day.groupBy("dx").agg(
        F.count(F.lit(1)).alias("new_users")
    )
    return ranged_cumsum(
        daily, order_cols=["dx"], value_col="new_users", out_col="cum_users"
    ).select("dx", "new_users", "cum_users")


_EVENTS_CUMULATIVE_USERS_ORACLE = """
WITH first_day AS (
  SELECT user_id,
         min(epoch_us(date_trunc('day', ts)) // 86400000000) AS dx
  FROM events GROUP BY 1
), daily AS (
  SELECT dx, CAST(count(*) AS BIGINT) AS new_users
  FROM first_day GROUP BY 1
)
SELECT dx, new_users,
       CAST(sum(new_users) OVER (ORDER BY dx) AS BIGINT) AS cum_users
FROM daily
"""


def q_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G5 — degree distribution of the co-activity graph with the
    complementary CDF: per distinct degree d, how many nodes have
    degree d and what fraction has degree >= d. The reverse running
    sum is exact BIGINT over the tiny distinct-degree domain (bounded
    by the coactivity bucket cap x active slots, NOT by node count);
    ccdf is one division per row. Shares the memoized edge list with
    pagerank/triangles/link prediction."""
    from pyspark.sql import Window

    from floatchat_datapipeline_spark.operators.graph import (
        coactivity_edges,
    )

    ev = load_table(spark, sf_dir, "events")
    e = coactivity_edges(ev, cache_key=sf_dir)
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("degree"))
    hist = deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_nodes"))
    total = deg.select(F.count(F.lit(1)).alias("n_total"))
    w = Window.orderBy(F.desc("degree")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        hist.crossJoin(F.broadcast(total))
        .withColumn("n_ge", F.sum("n_nodes").over(w))
        .select(
            "degree",
            "n_nodes",
            (F.col("n_ge") / F.col("n_total")).alias("ccdf"),
        )
    )


_DEGREE_DISTRIBUTION_ORACLE = """
WITH members AS (
  SELECT DISTINCT event_type,
         epoch_us(ts) // 600000000 AS h, user_id
  FROM events
), capped AS (
  SELECT event_type, h, user_id FROM (
    SELECT *, row_number() OVER (
      PARTITION BY event_type, h ORDER BY user_id) AS rn
    FROM members)
  WHERE rn <= 64
), edges0 AS (
  SELECT DISTINCT a.user_id AS src, b.user_id AS dst
  FROM capped a JOIN capped b
    ON a.event_type = b.event_type AND a.h = b.h
   AND a.user_id <> b.user_id
), deg AS (
  SELECT src, CAST(count(*) AS BIGINT) AS degree FROM edges0 GROUP BY src
), hist AS (
  SELECT degree, CAST(count(*) AS BIGINT) AS n_nodes FROM deg GROUP BY 1
), total AS (
  SELECT CAST(count(*) AS BIGINT) AS n_total FROM deg
)
SELECT degree, n_nodes,
       CAST(sum(n_nodes) OVER (
         ORDER BY degree DESC
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       / n_total AS ccdf
FROM hist CROSS JOIN total
"""


def q_cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A44 — cohort lifetime-value curve: users cohorted by first-seen
    week (any event), purchase cents accumulated by week offset since
    signup, cumulative within each cohort, and per-user LTV as ONE
    exact division by the cohort's size. The retention triangle's
    revenue twin: first-seen is one min-agg, revenue one (user, week)
    rollup, the running sum a per-cohort window over the bounded
    offset domain — no global window, two fact-sized shuffles."""
    from pyspark.sql import Window

    from floatchat_datapipeline_spark.functions.eventtime import (
        epoch_micros,
        long_div,
    )

    ev = load_table(spark, sf_dir, "events")
    wx = long_div(epoch_micros(F.col("ts")), 604_800_000_000)
    first = ev.groupBy("user_id").agg(F.min(wx).alias("cohort_wx"))
    sizes = first.groupBy("cohort_wx").agg(
        F.count(F.lit(1)).alias("cohort_users")
    )
    rev = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", wx.alias("wx"))
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long")).alias(
                "cents"
            )
        )
    )
    cell = (
        rev.join(first, "user_id")
        .groupBy("cohort_wx", (F.col("wx") - F.col("cohort_wx")).alias(
            "week_offset"
        ))
        .agg(F.sum("cents").alias("cents"))
    )
    w = (
        Window.partitionBy("cohort_wx")
        .orderBy("week_offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        cell.withColumn("cum_cents", F.sum("cents").over(w))
        .join(F.broadcast(sizes), "cohort_wx")
        .select(
            "cohort_wx",
            "week_offset",
            "cents",
            "cum_cents",
            (F.col("cum_cents") / F.col("cohort_users")).alias(
                "ltv_cents_per_user"
            ),
        )
    )


_COHORT_LTV_CURVE_ORACLE = """
WITH first AS (
  SELECT user_id,
         min(epoch_us(ts) // 604800000000) AS cohort_wx
  FROM events GROUP BY 1
), sizes AS (
  SELECT cohort_wx, CAST(count(*) AS BIGINT) AS cohort_users
  FROM first GROUP BY 1
), rev AS (
  SELECT user_id, epoch_us(ts) // 604800000000 AS wx,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
  GROUP BY 1, 2
), cell AS (
  SELECT f.cohort_wx, r.wx - f.cohort_wx AS week_offset,
         CAST(sum(r.cents) AS BIGINT) AS cents
  FROM rev r JOIN first f USING (user_id)
  GROUP BY 1, 2
)
SELECT c.cohort_wx, c.week_offset, c.cents,
       CAST(sum(c.cents) OVER (
         PARTITION BY c.cohort_wx ORDER BY c.week_offset
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS BIGINT) AS cum_cents,
       CAST(sum(c.cents) OVER (
         PARTITION BY c.cohort_wx ORDER BY c.week_offset
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS BIGINT) / s.cohort_users AS ltv_cents_per_user
FROM cell c JOIN sizes s USING (cohort_wx)
"""


def q_events_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS19 — NEAREST-direction as-of join (pandas
    merge_asof(direction='nearest')): every purchase gets the closest
    click in time, before OR after. Composed from the existing
    union-merge as-of operator run twice — once forward in real time,
    once over NEGATED epoch seconds (at-or-before in negated time ==
    at-or-after in real time, with the same highest-event_id tie-break
    at equal timestamps) — then a per-purchase arbitration: smaller
    absolute gap wins, exact ties prefer the BACKWARD candidate
    (deterministic, the LOCF convention). Both passes shuffle once on
    user_id; purchases with no click on either side drop (inner
    semantics). Integer second gaps — no float time math."""
    from floatchat_datapipeline_spark.functions.eventtime import (
        epoch_seconds,
    )
    from floatchat_datapipeline_spark.operators.timeseries import asof_join

    ev = load_table(spark, sf_dir, "events")
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        epoch_seconds(F.col("ts")).alias("ts"),
        "event_id",
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        epoch_seconds(F.col("ts")).alias("ts"),
        "event_id",
        F.col("event_id").alias("click_id"),
    )
    back = asof_join(
        purch,
        clicks.drop("event_id"),
        on="user_id",
        payload_cols=("click_id",),
        right_order_col="click_id",
        payload_prefix="b_",
    )
    neg = lambda df: df.withColumn("ts", -F.col("ts"))  # noqa: E731
    fwd = asof_join(
        neg(purch),
        neg(clicks.drop("event_id")),
        on="user_id",
        payload_cols=("click_id",),
        right_order_col="click_id",
        payload_prefix="f_",
    ).select(
        "event_id",
        (-F.col("f_ts")).alias("f_ts_real"),
        "f_click_id",
    )
    gap_b = F.col("ts") - F.col("b_ts")  # >= 0
    gap_f = F.col("f_ts_real") - F.col("ts")  # >= 0
    pick_back = F.col("b_ts").isNotNull() & (
        F.col("f_ts_real").isNull() | (gap_b <= gap_f)
    )
    return (
        back.join(fwd, "event_id")
        .filter(F.col("b_ts").isNotNull() | F.col("f_ts_real").isNotNull())
        .select(
            "user_id",
            "event_id",
            F.when(pick_back, F.col("b_click_id"))
            .otherwise(F.col("f_click_id"))
            .alias("nearest_click_id"),
            F.when(pick_back, -gap_b).otherwise(gap_f).alias("gap_s"),
        )
    )


_EVENTS_ASOF_NEAREST_ORACLE = """
WITH purch AS (
  SELECT user_id, epoch_us(ts) // 1000000 AS ts_s, event_id
  FROM events WHERE event_type = 'purchase'
), clicks AS (
  SELECT user_id, epoch_us(ts) // 1000000 AS ts_s, event_id AS click_id
  FROM events WHERE event_type = 'click'
), back AS (
  SELECT p.event_id, c.ts_s AS b_ts, c.click_id AS b_click_id,
         row_number() OVER (PARTITION BY p.event_id
                            ORDER BY c.ts_s DESC, c.click_id DESC) AS rn
  FROM purch p JOIN clicks c
    ON c.user_id = p.user_id AND c.ts_s <= p.ts_s
), fwd AS (
  SELECT p.event_id, c.ts_s AS f_ts, c.click_id AS f_click_id,
         row_number() OVER (PARTITION BY p.event_id
                            ORDER BY c.ts_s ASC, c.click_id DESC) AS rn
  FROM purch p JOIN clicks c
    ON c.user_id = p.user_id AND c.ts_s >= p.ts_s
)
SELECT p.user_id, p.event_id,
       CASE WHEN b.b_ts IS NOT NULL
                 AND (f.f_ts IS NULL
                      OR p.ts_s - b.b_ts <= f.f_ts - p.ts_s)
            THEN b.b_click_id ELSE f.f_click_id END AS nearest_click_id,
       CAST(CASE WHEN b.b_ts IS NOT NULL
                      AND (f.f_ts IS NULL
                           OR p.ts_s - b.b_ts <= f.f_ts - p.ts_s)
                 THEN -(p.ts_s - b.b_ts)
                 ELSE f.f_ts - p.ts_s END AS BIGINT) AS gap_s
FROM purch p
LEFT JOIN back b ON b.event_id = p.event_id AND b.rn = 1
LEFT JOIN fwd f ON f.event_id = p.event_id AND f.rn = 1
WHERE b.b_ts IS NOT NULL OR f.f_ts IS NOT NULL
"""


def _sign_bits_horner(emb: F.Column, start: int, n: int) -> F.Column:
    """Pack `n` sign bits of a float array (1-based slice from `start`)
    into one BIGINT by a Horner fold over the REVERSED bit list
    (acc*2 + bit) — no shiftleft-by-column (PySpark's wrapper takes
    only a literal bit count) and bit-identical to DuckDB's
    list_reduce over the same reversed list. n <= 32 keeps the packed
    value far from the sign bit."""
    bits = F.transform(
        F.slice(emb, start, n),
        lambda x: F.when(x > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        ),
    )
    return F.aggregate(
        F.reverse(bits),
        F.lit(0).cast("long"),
        lambda acc, x: acc * 2 + x,
    )


def q_emb_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V13 — binary-signature ANN: sign-binarize each 64-dim embedding
    into TWO 32-bit BIGINT words (16 bytes/row instead of 256 — the
    SimHash trick applied to dense vectors), then brute-force Hamming
    top-20 against query vec_id=7 as a map-only scan over the packed
    words + TakeOrdered: `bit_count(lo XOR q_lo) + bit_count(hi XOR
    q_hi)`, all integers, totalized ties by vec_id. At 100 TB the
    signature table is the thing you scan — 16× less IO than the float
    vectors, with cosine re-ranking of the shortlist available via the
    existing exact top-k operators."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        _sign_bits_horner(F.col("embedding"), 1, 32).alias("lo"),
        _sign_bits_horner(F.col("embedding"), 33, 32).alias("hi"),
    )
    q = emb.filter(F.col("vec_id") == 7).select(
        F.col("lo").alias("q_lo"), F.col("hi").alias("q_hi")
    )
    return (
        emb.filter(F.col("vec_id") != 7)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            (
                F.bit_count(F.col("lo").bitwiseXOR(F.col("q_lo")))
                + F.bit_count(F.col("hi").bitwiseXOR(F.col("q_hi")))
            )
            .cast("long")
            .alias("hamming_d"),
        )
        .orderBy("hamming_d", "vec_id")
        .limit(20)
    )


_EMB_HAMMING_TOPK_ORACLE = """
WITH packed AS (
  SELECT vec_id,
         list_reduce(list_prepend(CAST(0 AS BIGINT), list_reverse(
           [CASE WHEN embedding[i] > 0 THEN CAST(1 AS BIGINT)
                 ELSE CAST(0 AS BIGINT) END
            for i in generate_series(1, 32)])),
           (x, y) -> x * 2 + y) AS lo,
         list_reduce(list_prepend(CAST(0 AS BIGINT), list_reverse(
           [CASE WHEN embedding[i] > 0 THEN CAST(1 AS BIGINT)
                 ELSE CAST(0 AS BIGINT) END
            for i in generate_series(33, 64)])),
           (x, y) -> x * 2 + y) AS hi
  FROM embeddings
), q AS (
  SELECT lo AS q_lo, hi AS q_hi FROM packed WHERE vec_id = 7
)
SELECT p.vec_id,
       CAST(bit_count(xor(p.lo, q.q_lo))
            + bit_count(xor(p.hi, q.q_hi)) AS BIGINT) AS hamming_d
FROM packed p CROSS JOIN q
WHERE p.vec_id <> 7
ORDER BY hamming_d, vec_id
LIMIT 20
"""


def q_events_disorder_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS18 — out-of-order arrival audit (the input that SIZES a
    streaming watermark): treating event_id as ingestion order, an
    event is LATE if its timestamp precedes the running max of what
    its user already delivered. Per event_type: late fraction (one
    exact division) and the max/p99-defining lateness in integer
    seconds (max over BIGINTs). One hash exchange on user_id for the
    running-max window (growing frame, O(n)), then a 5-group rollup.
    Reading this table's answer directly against the repo's streaming
    queries: a watermark of max_lateness_s retains every event this
    audit sees."""
    from pyspark.sql import Window

    from floatchat_datapipeline_spark.functions.eventtime import (
        epoch_seconds,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        epoch_seconds(F.col("ts")).alias("ts_s"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = ev.withColumn("prev_max", F.max("ts_s").over(w)).select(
        "event_type",
        F.when(
            F.col("prev_max").isNotNull()
            & (F.col("ts_s") < F.col("prev_max")),
            1,
        )
        .otherwise(0)
        .cast("long")
        .alias("late"),
        F.when(
            F.col("prev_max").isNotNull()
            & (F.col("ts_s") < F.col("prev_max")),
            F.col("prev_max") - F.col("ts_s"),
        )
        .otherwise(0)
        .cast("long")
        .alias("lateness_s"),
    )
    return flagged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("late").alias("n_late"),
        (F.sum("late") / F.count(F.lit(1))).alias("disorder_rate"),
        F.max("lateness_s").alias("max_lateness_s"),
    )


_EVENTS_DISORDER_RATE_ORACLE = """
WITH ev AS (
  SELECT user_id, event_id, event_type,
         epoch_us(ts) // 1000000 AS ts_s
  FROM events
), flagged AS (
  SELECT event_type,
         CASE WHEN prev_max IS NOT NULL AND ts_s < prev_max
              THEN 1 ELSE 0 END AS late,
         CASE WHEN prev_max IS NOT NULL AND ts_s < prev_max
              THEN prev_max - ts_s ELSE 0 END AS lateness_s
  FROM (
    SELECT event_type, ts_s,
           max(ts_s) OVER (
             PARTITION BY user_id ORDER BY event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ) AS prev_max
    FROM ev
  )
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(late) AS BIGINT) AS n_late,
       CAST(sum(late) AS BIGINT) / CAST(count(*) AS BIGINT)
         AS disorder_rate,
       CAST(max(lateness_s) AS BIGINT) AS max_lateness_s
FROM flagged GROUP BY 1
"""


def q_nation_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A43 — ratio-to-parent hierarchy rollup (the OLAP RATIO_TO_REPORT
    pattern over region > nation): per nation, exact revenue cents,
    the nation's share of its region, and the region's share of the
    grand total — each share ONE IEEE division of exact BIGINTs. One
    fact aggregation by custkey-joined nation (dims broadcast), parent
    totals derive from the nation-level aggregate (no second fact
    pass), the grand total is a 1-row broadcast."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    region = load_table(spark, sf_dir, "region").select(
        "r_regionkey", "r_name"
    )
    per_nation = (
        load_table(spark, sf_dir, "orders")
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(nation),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(region),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy("r_name", "n_name")
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("long")
            ).alias("cents")
        )
        .localCheckpoint(eager=True)  # feeds region totals + the rows
    )
    per_region = per_nation.groupBy("r_name").agg(
        F.sum("cents").alias("region_cents")
    )
    total = per_nation.agg(F.sum("cents").alias("total_cents"))
    return (
        per_nation.join(F.broadcast(per_region), "r_name")
        .crossJoin(F.broadcast(total))
        .select(
            "r_name",
            "n_name",
            "cents",
            (F.col("cents") / F.col("region_cents")).alias(
                "share_of_region"
            ),
            (F.col("region_cents") / F.col("total_cents")).alias(
                "region_share_of_total"
            ),
        )
    )


_NATION_REVENUE_SHARE_ORACLE = """
WITH per_nation AS (
  SELECT r_name, n_name,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
              AS BIGINT) AS cents
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  GROUP BY 1, 2
), per_region AS (
  SELECT r_name, CAST(sum(cents) AS BIGINT) AS region_cents
  FROM per_nation GROUP BY 1
), total AS (
  SELECT CAST(sum(cents) AS BIGINT) AS total_cents FROM per_nation
)
SELECT pn.r_name, pn.n_name, pn.cents,
       pn.cents / pr.region_cents AS share_of_region,
       pr.region_cents / t.total_cents AS region_share_of_total
FROM per_nation pn
JOIN per_region pr USING (r_name)
CROSS JOIN total t
"""


def q_events_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A42 — chi-square test of independence between event_type and
    hour-of-day. Counts, margins, and N are exact BIGINTs; each cell's
    contribution ((O*N - r*c)^2 / (N*r*c)) is the same three IEEE ops
    on both engines; and the chi2 TOTAL uses the sorted-array float
    fold: contributions are collected in (type, hour) order and folded
    LEFT (Spark F.aggregate == DuckDB list_reduce), so the float sum
    has ONE associativity order instead of a shuffle-dependent one —
    the parity pattern that makes a sum of 120 doubles deterministic.
    The cell domain (types x 24 hours) is densified so O=0 cells still
    contribute their expectation; domain is bounded, so the final
    single-row collect is constant-size."""
    from floatchat_datapipeline_spark.functions.eventtime import (
        epoch_micros,
        long_div,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        (long_div(epoch_micros(F.col("ts")), 3_600_000_000) % 24).alias(
            "hod"
        ),
    )
    cells = ev.groupBy("event_type", "hod").agg(
        F.count(F.lit(1)).alias("o")
    )
    rows_m = cells.groupBy("event_type").agg(F.sum("o").alias("r"))
    cols_m = cells.groupBy("hod").agg(F.sum("o").alias("c"))
    total = cells.agg(F.sum("o").alias("n"))
    grid = (
        rows_m.crossJoin(F.broadcast(cols_m))
        .join(cells, ["event_type", "hod"], "left")
        .crossJoin(F.broadcast(total))
        .select(
            "event_type",
            "hod",
            F.coalesce(F.col("o"), F.lit(0)).alias("o"),
            "r",
            "c",
            "n",
        )
    )
    diff = (F.col("o") * F.col("n") - F.col("r") * F.col("c")).cast(
        "double"
    )
    den = (F.col("n") * F.col("r") * F.col("c")).cast("double")
    contrib = grid.select(
        "event_type",
        "hod",
        "o",
        ((diff * diff) / den).alias("contrib"),
    )
    arr = F.array_sort(
        F.collect_list(F.struct("event_type", "hod", "contrib"))
    )
    return contrib.agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum("o").alias("n_events"),
        F.aggregate(
            arr,
            F.lit(0.0),
            lambda acc, x: acc + x["contrib"],
        ).alias("chi2"),
        (
            (F.countDistinct("event_type") - 1)
            * (F.countDistinct("hod") - 1)
        ).alias("dof"),
    )


_EVENTS_CHI2_INDEPENDENCE_ORACLE = """
WITH ev AS (
  SELECT event_type,
         (epoch_us(ts) // 3600000000) % 24 AS hod
  FROM events
), cells AS (
  SELECT event_type, hod, CAST(count(*) AS BIGINT) AS o
  FROM ev GROUP BY 1, 2
), rows_m AS (
  SELECT event_type, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY 1
), cols_m AS (
  SELECT hod, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY 1
), total AS (
  SELECT CAST(sum(o) AS BIGINT) AS n FROM cells
), grid AS (
  SELECT rm.event_type, cm.hod, COALESCE(ce.o, 0) AS o, rm.r, cm.c, t.n
  FROM rows_m rm CROSS JOIN cols_m cm
  LEFT JOIN cells ce ON ce.event_type = rm.event_type AND ce.hod = cm.hod
  CROSS JOIN total t
), contrib AS (
  SELECT event_type, hod, o,
         (CAST(o * n - r * c AS DOUBLE) * CAST(o * n - r * c AS DOUBLE))
           / CAST(n * r * c AS DOUBLE) AS contrib
  FROM grid
)
SELECT CAST(count(*) AS BIGINT) AS n_cells,
       CAST(sum(o) AS BIGINT) AS n_events,
       list_reduce(
         list_prepend(CAST(0 AS DOUBLE),
                      list(contrib ORDER BY event_type, hod)),
         (x, y) -> x + y) AS chi2,
       CAST((count(DISTINCT event_type) - 1)
            * (count(DISTINCT hod) - 1) AS BIGINT) AS dof
FROM contrib
"""


def q_corpus_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L26 — corpus redundancy growth curve: reading each source's
    documents in doc_id order, how many NEVER-SEEN-BEFORE 3-word
    shingles does each document contribute, and how many cumulatively?
    First-occurrence attribution is one min-aggregation per
    (source, shingle) — no iterative scan — and the running total is a
    per-source window (partitioned, bounded by the source's doc
    count). The curve's flattening rate is the dataset-curation signal
    for when additional documents stop adding new content. All counts
    exact BIGINTs."""
    from pyspark.sql import Window

    from floatchat_datapipeline_spark.functions.textstats import (
        word_shingles,
    )

    d = load_table(spark, sf_dir, "documents")
    sh = d.select(
        "source",
        "doc_id",
        F.explode(
            F.array_distinct(word_shingles(F.col("text"), 3))
        ).alias("shingle"),
    )
    first = sh.groupBy("source", "shingle").agg(
        F.min("doc_id").alias("first_doc")
    )
    new_per_doc = first.groupBy(
        "source", F.col("first_doc").alias("doc_id")
    ).agg(F.count(F.lit(1)).alias("new_shingles"))
    docs = d.select("source", "doc_id").join(
        new_per_doc, ["source", "doc_id"], "left"
    ).select(
        "source",
        "doc_id",
        F.coalesce(F.col("new_shingles"), F.lit(0)).alias("new_shingles"),
    )
    w = Window.partitionBy("source").orderBy("doc_id")
    return docs.select(
        "source",
        "doc_id",
        F.row_number().over(w).cast("long").alias("doc_seq"),
        "new_shingles",
        F.sum("new_shingles")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum_new"),
    )


_CORPUS_NOVELTY_CURVE_ORACLE = f"""
WITH sh AS (
  SELECT source, doc_id, unnest({_SHINGLES_3_SQL}) AS shingle
  FROM (SELECT source, doc_id, string_split(text, ' ') AS t
        FROM documents)
), first AS (
  SELECT source, shingle, min(doc_id) AS first_doc
  FROM sh GROUP BY 1, 2
), new_per_doc AS (
  SELECT source, first_doc AS doc_id,
         CAST(count(*) AS BIGINT) AS new_shingles
  FROM first GROUP BY 1, 2
)
SELECT d.source, d.doc_id,
       CAST(row_number() OVER w AS BIGINT) AS doc_seq,
       COALESCE(n.new_shingles, 0) AS new_shingles,
       CAST(sum(COALESCE(n.new_shingles, 0)) OVER (
         PARTITION BY d.source ORDER BY d.doc_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS BIGINT) AS cum_new
FROM documents d
LEFT JOIN new_per_doc n ON n.source = d.source AND n.doc_id = d.doc_id
WINDOW w AS (PARTITION BY d.source ORDER BY d.doc_id)
"""


def q_events_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS17 — time-weighted average value (the TimescaleDB
    `time_weight('locf')` analog) per event_type per day: each
    observation's cents are weighted by the integer seconds until the
    next observation in the same (type, day), so sparse bursts don't
    dominate the mean the way a row-average lets them. The last
    observation of a day carries no duration and drops (deterministic
    cutoff). sum(cents*gap) and sum(gap) are exact BIGINTs; TWAP is
    ONE IEEE division. One hash exchange feeds both the lead window
    and the rollup (same (type, day) keys)."""
    from pyspark.sql import Window

    from floatchat_datapipeline_spark.functions.eventtime import (
        epoch_micros,
        epoch_seconds,
        long_div,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        long_div(
            epoch_micros(F.date_trunc("day", F.col("ts"))), 86_400_000_000
        ).alias("dx"),
        epoch_seconds(F.col("ts")).alias("ts_s"),
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = Window.partitionBy("event_type", "dx").orderBy("ts_s", "event_id")
    gapped = ev.withColumn(
        "gap", F.lead("ts_s").over(w) - F.col("ts_s")
    ).filter(F.col("gap").isNotNull())
    # Degenerate guard (lazy CaseWhen, q_events_anova_f pattern): when
    # every observation in a (type, day) shares ONE timestamp the gaps
    # are all zero and sum(gap) = 0 — a zero-duration day has no
    # time-weighted mean, so NULL it instead of aborting under ANSI
    # mode. Mirrored CASE in the oracle.
    return gapped.groupBy("event_type", "dx").agg(
        F.sum("gap").alias("span_s"),
        F.when(
            F.sum("gap") != F.lit(0),
            F.sum(F.col("cents") * F.col("gap")) / F.sum("gap"),
        ).alias("twap_cents"),
    )


_EVENTS_TWAP_ORACLE = """
WITH ev AS (
  SELECT event_type,
         epoch_us(date_trunc('day', ts)) // 86400000000 AS dx,
         epoch_us(ts) // 1000000 AS ts_s,
         event_id,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
), gapped AS (
  SELECT event_type, dx, cents,
         lead(ts_s) OVER (
           PARTITION BY event_type, dx ORDER BY ts_s, event_id)
           - ts_s AS gap
  FROM ev
)
SELECT event_type, dx,
       CAST(sum(gap) AS BIGINT) AS span_s,
       CASE WHEN sum(gap) = 0 THEN NULL
       ELSE CAST(sum(cents * gap) AS BIGINT)
         / CAST(sum(gap) AS BIGINT) END AS twap_cents
FROM gapped WHERE gap IS NOT NULL
GROUP BY 1, 2
"""


def q_doc_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O9 — diversified top-k: the 10 longest documents with AT MOST 2
    per source (search-results diversity constraint). Two-phase
    ranking: a per-source row_number (hash exchange on source) caps
    each source's contribution, then TakeOrdered picks the global 10 —
    no global sort materialization, ties totalized by doc_id at both
    phases."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.desc("n_chars"), "doc_id"
    )
    return (
        d.withColumn("src_rank", F.row_number().over(w))
        .filter(F.col("src_rank") <= 2)
        .select("doc_id", "source", "n_chars", "src_rank")
        .orderBy(F.desc("n_chars"), "doc_id")
        .limit(10)
    )


_DOC_DIVERSE_TOPK_ORACLE = """
SELECT doc_id, source, n_chars, CAST(src_rank AS INT) AS src_rank
FROM (
  SELECT doc_id, source, n_chars,
         row_number() OVER (
           PARTITION BY source ORDER BY n_chars DESC, doc_id) AS src_rank
  FROM documents
) WHERE src_rank <= 2
ORDER BY n_chars DESC, doc_id
LIMIT 10
"""


def q_customer_snm_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D9 — sorted-neighborhood entity-resolution blocking (Hernandez &
    Stolfo): sort customers on the match key (exact balance cents,
    custkey tie-break), slide a window of 3 over the SORTED order, and
    emit candidate pairs that verify (same market segment, balance gap
    <= 500 cents — non-vacuous at every test SF). The global sort rank is ranged_cumsum (range
    partitioning, no single-partition window); neighbors materialize
    as TWO rank-offset equi-joins (rnk+1, rnk+2) co-partitioned on the
    rank — SNM's candidate count is O(n*w), immune to the skew that
    breaks value-based blocking when one block goes giant."""
    from floatchat_datapipeline_spark.plans.scale import ranged_cumsum

    cust = (
        load_table(spark, sf_dir, "customer")
        .select(
            "c_custkey",
            "c_mktsegment",
            F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
        )
        .withColumn("one", F.lit(1).cast("long"))
    )
    ranked = ranged_cumsum(
        cust, ["cents", "c_custkey"], "one", out_col="rnk"
    ).drop("one")
    b = (
        ranked.select(
            F.col("c_custkey").alias("id_b"),
            F.col("c_mktsegment").alias("seg_b"),
            F.col("cents").alias("cents_b"),
            "rnk",
        )
        .withColumn("d", F.explode(F.array(F.lit(1), F.lit(2))))
        .withColumn("rnk", F.col("rnk") - F.col("d"))
        .drop("d")
    )
    return (
        ranked.join(b, "rnk")
        .filter(
            (F.col("c_mktsegment") == F.col("seg_b"))
            & (F.col("cents_b") - F.col("cents") <= 500)
        )
        .select(
            F.col("c_custkey").alias("id_a"),
            "id_b",
            F.col("c_mktsegment").alias("segment"),
            (F.col("cents_b") - F.col("cents")).alias("gap_cents"),
        )
    )


_CUSTOMER_SNM_PAIRS_ORACLE = """
WITH ranked AS (
  SELECT c_custkey, c_mktsegment,
         CAST(round(c_acctbal * 100) AS BIGINT) AS cents,
         CAST(row_number() OVER (ORDER BY
              CAST(round(c_acctbal * 100) AS BIGINT), c_custkey)
              AS BIGINT) AS rnk
  FROM customer
)
SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
       a.c_mktsegment AS segment,
       CAST(b.cents - a.cents AS BIGINT) AS gap_cents
FROM ranked a JOIN ranked b
  ON b.rnk - a.rnk IN (1, 2)
WHERE a.c_mktsegment = b.c_mktsegment
  AND b.cents - a.cents <= 500
"""


def q_events_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A41 — burstiness audit: index of dispersion (variance-to-mean
    ratio) of the hourly event-count series per event_type. Count data
    is Poisson when D = 1, bursty when D > 1 — and with integer counts
    the whole statistic is exact: D = (n*sum(x^2) - sum(x)^2) /
    (n*sum(x)), BIGINT numerator and denominator, ONE IEEE division.
    One hourly pre-aggregation, one per-type rollup — two shuffles
    total, no windows."""
    from floatchat_datapipeline_spark.functions.eventtime import (
        epoch_micros,
        long_div,
    )

    hourly = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            long_div(
                epoch_micros(F.date_trunc("hour", F.col("ts"))),
                3_600_000_000,
            ).alias("hx"),
        )
        .agg(F.count(F.lit(1)).alias("x"))
    )
    n = F.count(F.lit(1))
    return hourly.groupBy("event_type").agg(
        n.alias("n_hours"),
        F.sum("x").alias("n_events"),
        (
            (n * F.sum(F.col("x") * F.col("x")) - F.sum("x") * F.sum("x"))
            / (n * F.sum("x"))
        ).alias("dispersion"),
    )


_EVENTS_DISPERSION_ORACLE = """
WITH hourly AS (
  SELECT event_type,
         epoch_us(date_trunc('hour', ts)) // 3600000000 AS hx,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_hours,
       CAST(sum(x) AS BIGINT) AS n_events,
       (CAST(count(*) AS BIGINT) * CAST(sum(x * x) AS BIGINT)
        - CAST(sum(x) AS BIGINT) * CAST(sum(x) AS BIGINT))
       / (CAST(count(*) AS BIGINT) * CAST(sum(x) AS BIGINT)) AS dispersion
FROM hourly GROUP BY 1
"""


def q_events_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A39 — EXACT two-sample Kolmogorov-Smirnov statistic between the
    click and view value distributions: D = max_v |F_a(v) - F_b(v)|
    computed entirely in integers — per distinct cents value the
    cumulative counts c_a, c_b ride two ranged_cumsum passes (range
    partitioning, no single-partition window), the supremum is
    max |c_a*n_b - c_b*n_a| over BIGINTs, and the statistic is ONE
    IEEE division by n_a*n_b at the end; `at_cents` reports the
    smallest location achieving the supremum (deterministic argmax).
    (2^63 bound: c*n <= n_a*n_b — exact to ~3*10^9 rows per sample;
    past that, DECIMAL(38,0).) Drift detection between cohorts with a
    p-value-free exact statistic — no float CDFs anywhere."""
    from floatchat_datapipeline_spark.plans.scale import ranged_cumsum

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    per_v = (
        ev.groupBy(
            F.round(F.col("value") * 100).cast("long").alias("cents")
        )
        .agg(
            F.sum(
                F.when(F.col("event_type") == "click", 1)
                .otherwise(0)
                .cast("long")
            ).alias("n_a"),
            F.sum(
                F.when(F.col("event_type") == "view", 1)
                .otherwise(0)
                .cast("long")
            ).alias("n_b"),
        )
    )
    cum = ranged_cumsum(per_v, ["cents"], "n_a", out_col="c_a")
    cum = ranged_cumsum(cum, ["cents"], "n_b", out_col="c_b")
    totals = per_v.agg(
        F.sum("n_a").alias("ta"), F.sum("n_b").alias("tb")
    )
    scored = (
        cum.crossJoin(F.broadcast(totals))
        .select(
            "cents",
            F.abs(
                F.col("c_a") * F.col("tb") - F.col("c_b") * F.col("ta")
            ).alias("d_num"),
            "ta",
            "tb",
        )
        .localCheckpoint(eager=True)  # feeds the max AND the argmax
    )
    peak = scored.agg(F.max("d_num").alias("d_max"))
    return (
        scored.join(F.broadcast(peak), scored.d_num == peak.d_max)
        .groupBy()
        .agg(
            F.max("ta").alias("n_click"),
            F.max("tb").alias("n_view"),
            F.max("d_max").alias("d_num"),
            # Degenerate guard (lazy CaseWhen, q_events_anova_f
            # pattern): an EMPTY sample (ta or tb = 0) has no defined
            # KS statistic — NULL it instead of aborting under ANSI
            # mode. Mirrored CASE in the oracle.
            F.when(
                (F.max("ta") * F.max("tb")) != F.lit(0),
                F.max("d_max") / (F.max("ta") * F.max("tb")),
            ).alias("ks_d"),
            F.min("cents").alias("at_cents"),
        )
    )


_EVENTS_KS_TEST_ORACLE = """
WITH per_v AS (
  SELECT CAST(round(value * 100) AS BIGINT) AS cents,
         CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS n_a,
         CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS n_b
  FROM events WHERE event_type IN ('click', 'view')
  GROUP BY 1
), cum AS (
  SELECT cents,
         CAST(sum(n_a) OVER w AS BIGINT) AS c_a,
         CAST(sum(n_b) OVER w AS BIGINT) AS c_b
  FROM per_v WINDOW w AS (ORDER BY cents)
), totals AS (
  SELECT CAST(sum(n_a) AS BIGINT) AS ta, CAST(sum(n_b) AS BIGINT) AS tb
  FROM per_v
), scored AS (
  SELECT cents, abs(c_a * tb - c_b * ta) AS d_num, ta, tb
  FROM cum CROSS JOIN totals
)
SELECT max(ta) AS n_click, max(tb) AS n_view,
       CAST(max(d_num) AS BIGINT) AS d_num,
       CASE WHEN max(ta) * max(tb) = 0 THEN NULL
       ELSE max(d_num) / (max(ta) * max(tb)) END AS ks_d,
       CAST(min(cents) FILTER (
         d_num = (SELECT max(d_num) FROM scored)) AS BIGINT) AS at_cents
FROM scored
"""


def q_spend_rank_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A40 — EXACT Spearman rank correlation between customer order
    frequency and total spend: rho = 1 - 6*sum(d^2) / (n*(n^2-1)) with
    d the difference of the two totalized global ranks (ties broken by
    custkey on BOTH metrics — the deterministic rank convention, same
    on both engines). Ranks come from ranged_cumsum of a ones column
    (no single-partition window); sum(d^2) is BIGINT-exact and rho is
    ONE IEEE division. (2^63 bound: sum(d^2) <= n^3 — exact to ~2*10^6
    customers; past that, DECIMAL(38,0) for the d^2 sum.)"""
    from floatchat_datapipeline_spark.plans.scale import ranged_cumsum

    cust = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("long")
            ).alias("cents"),
        )
        .withColumn("one", F.lit(1).cast("long"))
    )
    ranked = ranged_cumsum(
        cust, ["n_orders", "o_custkey"], "one", out_col="freq_rank"
    )
    ranked = ranged_cumsum(
        ranked, ["cents", "o_custkey"], "one", out_col="spend_rank"
    )
    d = F.col("freq_rank") - F.col("spend_rank")
    n = F.count(F.lit(1))
    # Degenerate guard (lazy CaseWhen, q_events_anova_f pattern): a
    # single customer makes the divisor n(n²−1) = 0 — rank correlation
    # is undefined on one point, so NULL it instead of aborting under
    # ANSI mode. Mirrored CASE in the oracle.
    return ranked.agg(
        n.alias("n_customers"),
        F.sum(d * d).alias("sum_d2"),
        F.when(
            (n * (n * n - 1)) != F.lit(0),
            1 - (6 * F.sum(d * d)) / (n * (n * n - 1)),
        ).alias("spearman_rho"),
    )


_SPEND_RANK_CORRELATION_ORACLE = """
WITH cust AS (
  SELECT o_custkey,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
              AS BIGINT) AS cents
  FROM orders GROUP BY 1
), ranked AS (
  SELECT CAST(row_number() OVER (ORDER BY n_orders, o_custkey)
              AS BIGINT) AS freq_rank,
         CAST(row_number() OVER (ORDER BY cents, o_custkey)
              AS BIGINT) AS spend_rank
  FROM cust
)
SELECT CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum((freq_rank - spend_rank) * (freq_rank - spend_rank))
            AS BIGINT) AS sum_d2,
       CASE WHEN CAST(count(*) AS BIGINT)
              * (CAST(count(*) AS BIGINT) * CAST(count(*) AS BIGINT) - 1)
            = 0 THEN NULL
       ELSE 1 - (6 * CAST(sum((freq_rank - spend_rank)
                         * (freq_rank - spend_rank)) AS BIGINT))
           / (CAST(count(*) AS BIGINT)
              * (CAST(count(*) AS BIGINT) * CAST(count(*) AS BIGINT) - 1))
         END AS spearman_rho
FROM ranked
"""


def q_events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS16 — first-order Markov transition matrix of user behavior:
    count each (previous event_type -> event_type) step along every
    user's totalized timeline, then row-normalize into transition
    probabilities — BIGINT counts, ONE IEEE division per cell (n over
    its row total), so the matrix is bit-identical cross-engine. One
    hash exchange on user_id feeds the lag window; the transition
    census is a 25-cell aggregate; the row totals ride a window over
    the tiny event-type domain (no second pass over the log)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = (
        ev.select(
            "user_id",
            F.col("event_type").alias("to_type"),
            F.lag("event_type").over(w).alias("from_type"),
        )
        .filter(F.col("from_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w_row = Window.partitionBy("from_type")
    return steps.select(
        "from_type",
        "to_type",
        "n",
        (F.col("n") / F.sum("n").over(w_row)).alias("prob"),
    )


_EVENTS_MARKOV_TRANSITIONS_ORACLE = """
WITH steps AS (
  SELECT lag(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS from_type,
         event_type AS to_type
  FROM events
), counts AS (
  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
  FROM steps WHERE from_type IS NOT NULL
  GROUP BY 1, 2
)
SELECT from_type, to_type, n,
       n / CAST(sum(n) OVER (PARTITION BY from_type) AS BIGINT) AS prob
FROM counts
"""


def q_stream_capped_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S19 — streaming gap + max-duration sessionization (TS15's twin):
    the open session is four BIGINTs of GroupState per user
    (streaming/windows.capped_session_stream); identical integer
    recurrence as the batch operator, so the same recursive-CTE oracle
    value-checks the stream."""
    from floatchat_datapipeline_spark.streaming.run import materialize
    from floatchat_datapipeline_spark.streaming.sources import stream_table
    from floatchat_datapipeline_spark.streaming.windows import (
        capped_session_stream,
    )

    return materialize(
        capped_session_stream(stream_table(spark, sf_dir, "events")),
        "q_stream_capped_sessions",
        output_mode="update",
    )


_STREAM_CAPPED_SESSIONS_ORACLE = _EVENTS_CAPPED_SESSIONS_ORACLE


def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartite customer↔supplier trade edge list (node 2·custkey /
    2·suppkey+1, both directions, distinct pairs from lineitem⋈orders),
    memoized per corpus version and localCheckpointed — the
    coactivity-edge lifecycle: G6 k-core and G8 assortativity share one
    build."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    pairs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select("o_custkey", "l_suppkey")
        .distinct()
    )
    edges = pairs.select(
        (F.col("o_custkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    ).unionAll(
        pairs.select(
            (F.col("l_suppkey") * 2 + 1).alias("src"),
            (F.col("o_custkey") * 2).alias("dst"),
        )
    )
    return memo.lookup(
        "trade-edges",
        sf_dir,
        (),
        edges,
        lambda: edges.localCheckpoint(eager=True),
    )


def q_trade_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G6 — k-core decomposition of the bipartite customer↔supplier
    trade graph (node 2·custkey / 2·suppkey+1, an edge per distinct
    trading pair from lineitem⋈orders): the maximal subgraph where
    every surviving node keeps ≥ k trading partners — the "dense
    trading core" a marketplace-health dashboard watches. The
    co-activity graph is degree-homogeneous (every fixed k is vacuous
    at sf0.01 — SURVEY §2 G6 note), but this graph is heavy-tailed by
    construction (customers ≈ 33 partners, suppliers ≈ 480 at sf0.01),
    so k derived from the data splits the population at every SF:
    k = (n_edges div n_customers) + 1 — one BIGINT division, identical
    in both engines, just above the mean customer degree.

    Scale: 4 fixed peel rounds (measured peel depth ≤ 2 at sf0.001/
    0.01/0.1; the `converged` certificate is itself parity-checked, so
    a graph needing more rounds fails loudly, not silently). Each round
    is one partial-agg degree count + two semi-joins on the shrinking
    edge set (operators/graph.k_core); the edge list is
    localCheckpointed once — the k-scalar branch and the peel rounds
    must not re-execute the join+distinct (two-branch rule)."""
    from floatchat_datapipeline_spark.operators.graph import k_core

    edges = _trade_edges(spark, sf_dir)
    # k folded into the lazy plan as a 1-row broadcast scalar (the
    # whale_revenue_share pattern) — no eager driver job before the
    # peel; positive BIGINTs, so div == the oracle's //.
    k_df = edges.filter(F.col("src") % 2 == 0).agg(
        F.expr("count(1) div count(DISTINCT src) + 1").alias("k")
    )
    return k_core(edges, k=k_df, rounds=4).withColumnRenamed(
        "user_id", "node_id"
    )


def _trade_core_oracle(rounds: int = 4) -> str:
    """Chained-CTE replay of the fixed-round peel (the pagerank
    fixed-iteration pattern): degree filter + two semi-joins per round,
    `converged` = round R population equals round R−1. Every round CTE
    is MATERIALIZED: each e{r} references e{r-1} three times (degree
    filter + both semi-joins), so default CTE inlining re-expands the
    chain ~3^rounds-fold — the un-materialized form never finishes."""
    head = """
WITH pairs AS MATERIALIZED (
  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
), e0 AS MATERIALIZED (
  SELECT 2 * c AS src, 2 * s + 1 AS dst FROM pairs
  UNION ALL
  SELECT 2 * s + 1 AS src, 2 * c AS dst FROM pairs
), const AS MATERIALIZED (
  SELECT CAST(count(*) // count(DISTINCT src) + 1 AS BIGINT) AS k
  FROM e0 WHERE src % 2 = 0
)"""
    steps = []
    for r in range(1, rounds + 1):
        steps.append(f""", k{r} AS MATERIALIZED (
  SELECT src FROM e{r - 1}
  GROUP BY src HAVING count(*) >= (SELECT k FROM const)
), e{r} AS MATERIALIZED (
  SELECT e.src, e.dst
  FROM e{r - 1} e
  JOIN k{r} a ON e.src = a.src
  JOIN k{r} b ON e.dst = b.src
)"""
        )
    tail = f"""
SELECT src AS node_id,
       CAST(count(*) AS BIGINT) AS core_degree,
       ((SELECT count(DISTINCT src) FROM e{rounds - 1})
        = (SELECT count(DISTINCT src) FROM e{rounds})) AS converged
FROM e{rounds}
GROUP BY src
"""
    return head + "".join(steps) + tail


_TRADE_CORE_ORACLE = _trade_core_oracle()


def q_events_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS20 — autocorrelation function of the hourly event-count series
    per event_type, lags 1..12 (the seasonality detector feeding
    forecast-model selection; extend max_lag to 24 to surface a full
    daily echo — the plan shape is lag-count-invariant). The
    series is densified onto the full hour spine (missing hours are
    true zeros for count data) so lags never skip gaps; all five sums
    (Σx Σy Σxy Σxx Σyy) are exact BIGINTs over integer counts and the
    Pearson r per lag is assembled as num/(sqrt(d1)·sqrt(d2)) — the
    same IEEE call sequence in both engines (the haversine rule), so
    the doubles are bit-identical.

    Scale: one partial-aggregable hourly rollup is the only fact
    shuffle; the spine join and the 12-lead window run on the
    types×hours domain (~3.6 k rows at sf0.1 — and still only
    types×hours at 100 TB, since hours grow with wall-clock, not data
    volume). All 12 lags come from ONE window pass (12 lead() calls
    reuse one sort), then stack() unpivots in-memory."""
    from floatchat_datapipeline_spark.functions.eventtime import (
        epoch_micros,
        long_div,
    )
    from pyspark.sql import Window

    max_lag = 12
    hourly = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            long_div(
                epoch_micros(F.date_trunc("hour", F.col("ts"))),
                3_600_000_000,
            ).alias("hx"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    bounds = hourly.groupBy("event_type").agg(
        F.min("hx").alias("lo"), F.max("hx").alias("hi")
    )
    spine = bounds.select(
        "event_type", F.explode(F.sequence("lo", "hi")).alias("hx")
    )
    dense = spine.join(hourly, ["event_type", "hx"], "left").select(
        "event_type", "hx", F.coalesce("n", F.lit(0)).alias("x")
    )
    w = Window.partitionBy("event_type").orderBy("hx")
    leads = dense.select(
        "event_type",
        "x",
        *[F.lead("x", k).over(w).alias(f"y{k}") for k in range(1, max_lag + 1)],
    )
    stack_args = ", ".join(f"{k}, y{k}" for k in range(1, max_lag + 1))
    long_form = leads.select(
        "event_type",
        "x",
        F.expr(f"stack({max_lag}, {stack_args}) AS (lag, y)"),
    ).filter(F.col("y").isNotNull())
    n = F.count(F.lit(1))
    sx, sy = F.sum("x"), F.sum("y")
    sxy = F.sum(F.col("x") * F.col("y"))
    sxx = F.sum(F.col("x") * F.col("x"))
    syy = F.sum(F.col("y") * F.col("y"))
    agg = long_form.groupBy("event_type", "lag").agg(
        n.alias("n_pairs"),
        (n * sxy - sx * sy).alias("num"),
        (n * sxx - sx * sx).alias("d1"),
        (n * syy - sy * sy).alias("d2"),
    )
    return agg.select(
        "event_type",
        "lag",
        "n_pairs",
        F.when(
            (F.col("d1") > 0) & (F.col("d2") > 0),
            F.col("num").cast("double")
            / (
                F.sqrt(F.col("d1").cast("double"))
                * F.sqrt(F.col("d2").cast("double"))
            ),
        ).alias("acf"),
    )


_EVENTS_ACF_ORACLE = """
WITH hourly AS (
  SELECT event_type,
         epoch_us(date_trunc('hour', ts)) // 3600000000 AS hx,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
), bounds AS (
  SELECT event_type, min(hx) AS lo, max(hx) AS hi FROM hourly GROUP BY 1
), spine AS (
  SELECT event_type, unnest(range(lo, hi + 1)) AS hx FROM bounds
), dense AS (
  SELECT s.event_type, s.hx, COALESCE(h.n, 0) AS x
  FROM spine s LEFT JOIN hourly h USING (event_type, hx)
), leads AS (
  SELECT event_type, x,
         lead(x, 1) OVER w AS y1, lead(x, 2) OVER w AS y2,
         lead(x, 3) OVER w AS y3, lead(x, 4) OVER w AS y4,
         lead(x, 5) OVER w AS y5, lead(x, 6) OVER w AS y6,
         lead(x, 7) OVER w AS y7, lead(x, 8) OVER w AS y8,
         lead(x, 9) OVER w AS y9, lead(x, 10) OVER w AS y10,
         lead(x, 11) OVER w AS y11, lead(x, 12) OVER w AS y12
  FROM dense WINDOW w AS (PARTITION BY event_type ORDER BY hx)
), long_form AS (
  SELECT event_type, u.lag, x, u.y
  FROM leads, LATERAL (
    SELECT unnest(range(1, 13)) AS lag,
           unnest([y1, y2, y3, y4, y5, y6, y7, y8, y9, y10, y11, y12]) AS y
  ) u
  WHERE u.y IS NOT NULL
), agg AS (
  SELECT event_type, CAST(lag AS INT) AS lag,
         CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(count(*) * sum(x * y) - sum(x) * sum(y) AS BIGINT) AS num,
         CAST(count(*) * sum(x * x) - sum(x) * sum(x) AS BIGINT) AS d1,
         CAST(count(*) * sum(y * y) - sum(y) * sum(y) AS BIGINT) AS d2
  FROM long_form GROUP BY 1, 2
)
SELECT event_type, lag, n_pairs,
       CASE WHEN d1 > 0 AND d2 > 0 THEN
         CAST(num AS DOUBLE)
         / (sqrt(CAST(d1 AS DOUBLE)) * sqrt(CAST(d2 AS DOUBLE)))
       END AS acf
FROM agg
"""


def q_doc_rater_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A45 — Cohen's kappa inter-rater agreement between two cheap
    deterministic document raters, per language (the labeling-pipeline
    health check: kappa near 0 means the heuristics disagree beyond
    chance and human review rules are inconsistent). Rater A flags
    length (n_chars ≥ 300, the corpus median); rater B flags topical
    density (≥ 3 occurrences of the token 'table', counted exactly via
    length-difference arithmetic). Kappa from the 2×2 contingency in
    its integer-only form: κ = 2·(n11·n00 − n10·n01) /
    ((n11+n10)·(n10+n00) + (n11+n01)·(n01+n00)) — BIGINT numerator and
    denominator, ONE IEEE division, so the double is engine-exact.
    Products stay ≪ 2^63 at test scales; at extreme corpus sizes
    pre-scale the four cells by a common divisor (only ratios matter).

    Scale: one partial-aggregable rollup over documents; everything
    after is per-language (5 rows)."""
    docs = load_table(spark, sf_dir, "documents")
    occ = (
        (F.length("text") - F.length(F.regexp_replace("text", "table", "")))
        / 5
    ).cast("long")
    rated = docs.select(
        "lang",
        (F.col("n_chars") >= 300).cast("long").alias("a"),
        (occ >= 3).cast("long").alias("b"),
    )
    cells = rated.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("a") * F.col("b")).alias("n11"),
        F.sum(F.col("a") * (1 - F.col("b"))).alias("n10"),
        F.sum((1 - F.col("a")) * F.col("b")).alias("n01"),
        F.sum((1 - F.col("a")) * (1 - F.col("b"))).alias("n00"),
    )
    num = 2 * (
        F.col("n11") * F.col("n00") - F.col("n10") * F.col("n01")
    )
    den = (F.col("n11") + F.col("n10")) * (F.col("n10") + F.col("n00")) + (
        F.col("n11") + F.col("n01")
    ) * (F.col("n01") + F.col("n00"))
    return cells.select(
        "lang",
        "n_docs",
        "n11",
        "n10",
        "n01",
        "n00",
        F.when(den != 0, num.cast("double") / den.cast("double")).alias(
            "kappa"
        ),
    )


_DOC_RATER_KAPPA_ORACLE = """
WITH rated AS (
  SELECT lang,
         CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS a,
         CASE WHEN (length(text) - length(replace(text, 'table', ''))) // 5
                   >= 3 THEN 1 ELSE 0 END AS b
  FROM documents
), cells AS (
  SELECT lang,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(a * b) AS BIGINT) AS n11,
         CAST(sum(a * (1 - b)) AS BIGINT) AS n10,
         CAST(sum((1 - a) * b) AS BIGINT) AS n01,
         CAST(sum((1 - a) * (1 - b)) AS BIGINT) AS n00
  FROM rated GROUP BY 1
)
SELECT lang, n_docs, n11, n10, n01, n00,
       CASE WHEN (n11 + n10) * (n10 + n00) + (n11 + n01) * (n01 + n00) <> 0
            THEN CAST(2 * (n11 * n00 - n10 * n01) AS DOUBLE)
                 / CAST((n11 + n10) * (n10 + n00)
                        + (n11 + n01) * (n01 + n00) AS DOUBLE)
       END AS kappa
FROM cells
"""


def q_doc_linkage_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D10 — Fellegi–Sunter-style record-linkage scoring over blocked
    document candidate pairs: within (lang, 50-char length band)
    blocks, each doc is compared to its ≤ 3 neighbors in doc_id order
    and scored by integer field-agreement weights (source match +12,
    |Δn_chars| ≤ 10 +8, same first-16-chars +20, same token-count
    decade +6); `is_match` gates at score ≥ 20. Weights are log-odds
    surrogates — integers so the score and gate can never drift between
    engines.

    Scale: the blocking keys bound candidate generation exactly like
    the D8 edit-distance pipeline — candidates grow linearly (≤ 3 per
    doc), never quadratically; the row_number window sorts within
    (lang, band) blocks whose size is data-bounded (cap with a
    row_number slice per block if a pathological corpus concentrates
    one band). One shuffle for the window, one self-join on
    (block, rank)."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        F.substring("text", 1, 16).alias("head16"),
        # Integer div, never double / + cast: matches the oracle's //
        # exactly at every operand range (the doc_calibration_curve rule).
        F.expr(
            "(length(text) - length(regexp_replace(text, ' ', '')) + 1)"
            " div 10"
        ).alias("tok_decade"),
        F.expr("n_chars div 50").alias("band"),
    )
    w = Window.partitionBy("lang", "band").orderBy("doc_id")
    ranked = docs.withColumn("rn", F.row_number().over(w))
    a = ranked.select(
        F.col("lang"),
        F.col("band"),
        F.col("rn"),
        F.col("doc_id").alias("doc_a"),
        F.col("source").alias("src_a"),
        F.col("n_chars").alias("nc_a"),
        F.col("head16").alias("h_a"),
        F.col("tok_decade").alias("td_a"),
    )
    b = ranked.select(
        F.col("lang"),
        F.col("band"),
        F.col("rn").alias("rn_b"),
        F.col("doc_id").alias("doc_b"),
        F.col("source").alias("src_b"),
        F.col("n_chars").alias("nc_b"),
        F.col("head16").alias("h_b"),
        F.col("tok_decade").alias("td_b"),
    )
    pairs = a.join(b, ["lang", "band"]).filter(
        (F.col("rn_b") > F.col("rn")) & (F.col("rn_b") - F.col("rn") <= 3)
    )
    score = (
        F.when(F.col("src_a") == F.col("src_b"), 12).otherwise(0)
        + F.when(
            F.abs(F.col("nc_a") - F.col("nc_b")) <= 10, 8
        ).otherwise(0)
        + F.when(F.col("h_a") == F.col("h_b"), 20).otherwise(0)
        + F.when(F.col("td_a") == F.col("td_b"), 6).otherwise(0)
    ).cast("long")
    return pairs.select(
        "doc_a",
        "doc_b",
        "lang",
        score.alias("score"),
        (score >= 20).alias("is_match"),
    )


_DOC_LINKAGE_SCORES_ORACLE = """
WITH d AS (
  SELECT doc_id, lang, source, n_chars,
         substr(text, 1, 16) AS head16,
         (length(text) - length(replace(text, ' ', '')) + 1) // 10
           AS tok_decade,
         n_chars // 50 AS band
  FROM documents
), ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY lang, band ORDER BY doc_id) AS rn
  FROM d
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.lang,
         CAST(
           (CASE WHEN a.source = b.source THEN 12 ELSE 0 END)
           + (CASE WHEN abs(a.n_chars - b.n_chars) <= 10 THEN 8 ELSE 0 END)
           + (CASE WHEN a.head16 = b.head16 THEN 20 ELSE 0 END)
           + (CASE WHEN a.tok_decade = b.tok_decade THEN 6 ELSE 0 END)
           AS BIGINT) AS score
  FROM ranked a JOIN ranked b
    ON a.lang = b.lang AND a.band = b.band
   AND b.rn > a.rn AND b.rn - a.rn <= 3
)
SELECT doc_a, doc_b, lang, score, score >= 20 AS is_match
FROM pairs
"""


def q_events_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A46 — winsorized robust statistics per event_type: clamp the
    exact-cents value distribution at its P1/P99 (R-7 quantiles, the
    cross-engine-identical interpolation), then report the clipped-tail
    counts and the winsorized mean — the outlier-robust KPI that a raw
    mean overstates under fat tails. Parity: quantiles are rounded to
    INTEGER cents (round() is half-away in both engines) before
    clamping, so the clamped column is BIGINT and its sum is exact; the
    mean is that one exact sum through two fixed divisions
    (sum/100/n — identical op order both sides).

    Scale: one percentile agg + one broadcast joinback + one final
    rollup; percentile over raw rows is the heavy step — swap in
    approx_percentile with an accuracy certificate at 100 TB (the A9
    sketch-twin pattern)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    q = ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(cents, 0.01e0)"), 0)
        .cast("long")
        .alias("lo"),
        F.round(F.expr("percentile(cents, 0.99e0)"), 0)
        .cast("long")
        .alias("hi"),
    )
    joined = ev.join(F.broadcast(q), "event_type")
    clamped = F.greatest("lo", F.least("hi", F.col("cents")))
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.max("lo").alias("p01_cents"),
        F.max("hi").alias("p99_cents"),
        F.sum((F.col("cents") < F.col("lo")).cast("long")).alias(
            "n_clipped_low"
        ),
        F.sum((F.col("cents") > F.col("hi")).cast("long")).alias(
            "n_clipped_high"
        ),
        (
            F.sum(clamped).cast("double") / 100 / F.count(F.lit(1))
        ).alias("winsorized_mean"),
    )


_EVENTS_WINSORIZED_STATS_ORACLE = """
WITH ev AS (
  SELECT event_type,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
), q AS (
  SELECT event_type,
         CAST(round(quantile_cont(cents, 0.01e0), 0) AS BIGINT) AS lo,
         CAST(round(quantile_cont(cents, 0.99e0), 0) AS BIGINT) AS hi
  FROM ev GROUP BY 1
)
SELECT e.event_type,
       CAST(count(*) AS BIGINT) AS n,
       max(q.lo) AS p01_cents,
       max(q.hi) AS p99_cents,
       CAST(sum(CASE WHEN e.cents < q.lo THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clipped_low,
       CAST(sum(CASE WHEN e.cents > q.hi THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clipped_high,
       CAST(sum(greatest(q.lo, least(q.hi, e.cents))) AS DOUBLE) / 100
         / count(*) AS winsorized_mean
FROM ev e JOIN q USING (event_type)
GROUP BY 1
"""


def q_doc_fim_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L25 — fill-in-the-middle (FIM) training transformation: split
    each document at hash-derived offsets into prefix/middle/suffix and
    re-emit in PSM order (<PRE>prefix<SUF>suffix<MID>middle — the
    infilling objective of Bavarian et al. 2022). The span is
    deterministic per doc_id via the engine's shared 60-bit md5 hash,
    so the transform is reproducible and both engines cut identical
    spans: middle starts at 2 + h1 % (L div 2) and runs
    1 + h2 % (L div 4) chars, which always leaves a non-empty prefix
    and suffix for L ≥ 16. substring is 1-based character semantics in
    both engines.

    Scale: map-only — no shuffle, no UDF; the three substrings and the
    concat are whole-stage-codegen expressions."""
    from floatchat_datapipeline_spark.functions.textstats import md5_long

    docs = load_table(spark, sf_dir, "documents").filter(
        F.length("text") >= 16
    )
    L = F.length("text")
    h1 = md5_long(F.concat(F.lit("fim|"), F.col("doc_id").cast("string")))
    h2 = md5_long(F.concat(F.lit("fim2|"), F.col("doc_id").cast("string")))
    m_start = (h1 % F.expr("length(text) div 2") + 2).alias("m_start")
    m_len = (h2 % F.expr("length(text) div 4") + 1).alias("m_len")
    cut = docs.select(
        "doc_id", "lang", "text", L.alias("L"), m_start, m_len
    )
    prefix = F.expr("substring(text, 1, m_start - 1)")
    middle = F.expr("substring(text, m_start, m_len)")
    suffix = F.expr("substring(text, m_start + m_len)")
    return cut.select(
        "doc_id",
        "lang",
        F.col("m_start").cast("long").alias("m_start"),
        F.col("m_len").cast("long").alias("m_len"),
        F.length(prefix).cast("long").alias("n_prefix"),
        F.length(suffix).cast("long").alias("n_suffix"),
        F.concat(
            F.lit("<PRE>"),
            prefix,
            F.lit("<SUF>"),
            suffix,
            F.lit("<MID>"),
            middle,
        ).alias("fim_text"),
    )


_DOC_FIM_SPLIT_ORACLE = """
WITH cut AS (
  SELECT doc_id, lang, text, length(text) AS L,
         CAST('0x' || substr(md5('fim|' || CAST(doc_id AS VARCHAR)), 1, 15)
              AS BIGINT) % (length(text) // 2) + 2 AS m_start,
         CAST('0x' || substr(md5('fim2|' || CAST(doc_id AS VARCHAR)), 1, 15)
              AS BIGINT) % (length(text) // 4) + 1 AS m_len
  FROM documents WHERE length(text) >= 16
)
SELECT doc_id, lang,
       CAST(m_start AS BIGINT) AS m_start,
       CAST(m_len AS BIGINT) AS m_len,
       CAST(length(substr(text, 1, CAST(m_start - 1 AS INT))) AS BIGINT)
         AS n_prefix,
       CAST(length(substr(text, CAST(m_start + m_len AS INT))) AS BIGINT)
         AS n_suffix,
       '<PRE>' || substr(text, 1, CAST(m_start - 1 AS INT))
       || '<SUF>' || substr(text, CAST(m_start + m_len AS INT))
       || '<MID>' || substr(text, CAST(m_start AS INT), CAST(m_len AS INT))
         AS fim_text
FROM cut
"""


def _rp_signs(m: int = 32, d: int = 64) -> list[list[int]]:
    """Deterministic ±1 Johnson–Lindenstrauss projection matrix from
    md5 parity — reproducible in any engine, no RNG state. Row j is the
    j-th projection direction over the d embedding dims."""
    import hashlib

    return [
        [
            1
            if int(hashlib.md5(f"rp|{j}|{k}".encode()).hexdigest()[:2], 16)
            % 2
            == 0
            else -1
            for k in range(d)
        ]
        for j in range(m)
    ]


def q_emb_rp_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V14 — ANN via ±1 random projection (Johnson–Lindenstrauss /
    Achlioptas): quantize each 64-dim embedding to exact 1e-4 integers,
    project onto 32 deterministic ±1 directions (dot products are exact
    BIGINTs), shortlist the 512 nearest by projected L2, then re-rank
    the shortlist by exact quantized L2 and keep the top 10. The
    projection cuts the scanned payload 2× (32 vs 64 dims) and — unlike
    the LSH/PQ variants — keeps a metric, not bucketed, shortlist
    (measured recall@10 = 10/10 vs brute force at sf0.001/0.01/0.1;
    m=16/256 scored only 6/10 at sf0.1 — tests pin ≥ 8/10).
    Everything is integer arithmetic: round(x·10⁴) is half-away in both
    engines, dot products ≤ 2^43 ≪ 2^63, so the driver hash certifies
    the whole pipeline including tie order (vec_id tiebreak).

    Scale: the projection is a map-only zip_with/aggregate HOF inside
    whole-stage codegen — no shuffle, no UDF; TakeOrdered(512) replaces
    a global sort; the exact re-rank touches 512 rows. The query vector
    (vec_id 0) joins as a 1-row broadcast (the cosine_topk pattern)."""
    signs = _rp_signs()
    emb = load_table(spark, sf_dir, "embeddings")
    q64 = F.expr(
        "transform(embedding, x -> "
        "cast(round(cast(x as double) * 10000) as bigint))"
    )
    base = emb.select("vec_id", q64.alias("q64"))
    qrow = base.filter(F.col("vec_id") == 0).select(
        F.col("q64").alias("qq")
    )
    diffed = (
        base.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qrow))
        .select(
            "vec_id",
            F.expr("zip_with(q64, qq, (a, b) -> a - b)").alias("dv"),
        )
    )
    dots = [
        F.expr(
            f"aggregate(zip_with(dv, array({', '.join(map(str, s))}), "
            "(a, b) -> a * b), 0L, (acc, x) -> acc + x)"
        ).alias(f"t{j}")
        for j, s in enumerate(signs)
    ]
    projected = diffed.select("vec_id", "dv", *dots)
    dist_rp = sum(
        F.col(f"t{j}") * F.col(f"t{j}") for j in range(len(signs))
    ).alias("dist_rp")
    cand = (
        projected.select("vec_id", "dv", dist_rp)
        .orderBy("dist_rp", "vec_id")
        .limit(512)
    )
    dist_exact = F.expr(
        "aggregate(transform(dv, a -> a * a), 0L, (acc, x) -> acc + x)"
    ).alias("dist_exact")
    return (
        cand.select("vec_id", "dist_rp", dist_exact)
        .orderBy("dist_exact", "vec_id")
        .limit(10)
    )


def _emb_rp_topk_oracle() -> str:
    signs = _rp_signs()
    terms = []
    for s in signs:
        lit = "[" + ", ".join(map(str, s)) + "]"
        terms.append(
            f"CAST(list_dot_product(dv, {lit}) AS BIGINT)"
            f" * CAST(list_dot_product(dv, {lit}) AS BIGINT)"
        )
    dist_rp = "\n         + ".join(terms)
    return f"""
WITH base AS MATERIALIZED (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS q64
  FROM embeddings
), qv AS MATERIALIZED (
  SELECT q64 AS qq FROM base WHERE vec_id = 0
), diffed AS MATERIALIZED (
  SELECT vec_id,
         list_transform(list_zip(q64, (SELECT qq FROM qv)),
                        s -> s[1] - s[2]) AS dv
  FROM base WHERE vec_id <> 0
), cand AS MATERIALIZED (
  SELECT vec_id, dv,
         {dist_rp} AS dist_rp
  FROM diffed
  ORDER BY dist_rp, vec_id LIMIT 512
)
SELECT vec_id, dist_rp,
       CAST(list_dot_product(dv, dv) AS BIGINT) AS dist_exact
FROM cand
ORDER BY dist_exact, vec_id LIMIT 10
"""


_EMB_RP_TOPK_ORACLE = _emb_rp_topk_oracle()


def q_incident_activity_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I3 — interval OVERLAP join (the TimescaleDB/range-join primitive
    I1/I2 don't cover): per-user daily activity spans [first event,
    last event] against per-user merged error-incident intervals
    ([ts, ts+1h], unioned by the I2 gaps-and-islands rule), emitting
    the overlap duration in exact epoch seconds for every intersecting
    (day-span, incident) pair. This is the join an SRE dashboard runs:
    'how much of each active day was spent inside an incident window?'

    Scale: both interval sets are keyed by user — the join is an
    equi-join on user_id with a theta overlap filter, never a cross
    join; per-user interval counts are bounded (days × incidents). The
    island window runs over each user's error rows only."""
    from floatchat_datapipeline_spark.functions.eventtime import (
        epoch_seconds,
    )
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        epoch_seconds(F.col("ts")).alias("es"),
    )
    act = (
        ev.groupBy("user_id", F.expr("es div 86400").alias("day"))
        .agg(F.min("es").alias("a_start"), F.max("es").alias("a_end"))
        .filter(F.col("a_end") > F.col("a_start"))
    )
    err = ev.filter(F.col("event_type") == "error").select("user_id", "es")
    w = Window.partitionBy("user_id").orderBy("es", "user_id")
    prev_end = F.max(F.col("es") + 3600).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = err.select(
        "user_id",
        "es",
        F.when(
            prev_end.isNull() | (F.col("es") > prev_end), 1
        ).otherwise(0).alias("new_island"),
    )
    islands = flagged.select(
        "user_id",
        "es",
        F.sum("new_island")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("island"),
    )
    incidents = islands.groupBy("user_id", "island").agg(
        F.min("es").alias("i_start"),
        (F.max("es") + 3600).alias("i_end"),
    )
    joined = act.join(incidents, "user_id").filter(
        (F.col("i_start") < F.col("a_end"))
        & (F.col("a_start") < F.col("i_end"))
    )
    return joined.select(
        "user_id",
        "day",
        "i_start",
        (
            F.least("a_end", "i_end") - F.greatest("a_start", "i_start")
        ).alias("overlap_seconds"),
    )


_INCIDENT_ACTIVITY_OVERLAP_ORACLE = """
WITH ev AS (
  SELECT user_id, event_type, epoch_us(ts) // 1000000 AS es FROM events
), act AS (
  SELECT user_id, es // 86400 AS day,
         min(es) AS a_start, max(es) AS a_end
  FROM ev GROUP BY 1, 2 HAVING max(es) > min(es)
), err AS (
  SELECT user_id, es FROM ev WHERE event_type = 'error'
), flagged AS (
  SELECT user_id, es,
         CASE WHEN max(es + 3600) OVER (
                PARTITION BY user_id ORDER BY es, user_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              IS NULL
           OR es > max(es + 3600) OVER (
                PARTITION BY user_id ORDER BY es, user_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         THEN 1 ELSE 0 END AS new_island
  FROM err
), islands AS (
  SELECT user_id, es,
         sum(new_island) OVER (
           PARTITION BY user_id ORDER BY es, user_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM flagged
), incidents AS (
  SELECT user_id, island, min(es) AS i_start, max(es) + 3600 AS i_end
  FROM islands GROUP BY 1, 2
)
SELECT a.user_id, a.day, i.i_start,
       least(a.a_end, i.i_end) - greatest(a.a_start, i.i_start)
         AS overlap_seconds
FROM act a JOIN incidents i
  ON a.user_id = i.user_id
 AND i.i_start < a.a_end AND a.a_start < i.i_end
"""


def q_events_positional_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TS21 — U-shaped (position-based) multi-touch attribution: each
    purchase's exact cents are split 40/20/40 across its touch path
    (clicks/views/signups in the prior 72 h) — 40 % to the first touch,
    40 % to the last, the middle pool spread evenly with the remainder
    cents going to the EARLIEST middles (largest-remainder, the L19
    Hamilton rule) — so ATTRIBUTED CENTS SUM EXACTLY TO PURCHASE CENTS,
    a conservation invariant the first/last-touch TS13 report cannot
    state. n=1 takes all; n=2 splits 50/50 with the odd cent to the
    first touch. All closed-form BIGINT per (touch rank, n) — no
    iteration, no floats.

    Scale: the touch↔purchase join is an equi-join on user_id with a
    72 h band predicate (per-user activity bounds the fan-out); the
    per-purchase rank window partitions by purchase id — path lengths,
    not table size. One final partial-agg rollup per channel."""
    from floatchat_datapipeline_spark.functions.eventtime import (
        epoch_seconds,
    )
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        F.col("user_id"),
        epoch_seconds(F.col("ts")).alias("pts"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    touches = ev.filter(
        F.col("event_type").isin("click", "view", "signup")
    ).select(
        "user_id",
        F.col("event_type").alias("channel"),
        epoch_seconds(F.col("ts")).alias("tts"),
        F.col("event_id").alias("tid"),
    )
    paired = purchases.join(touches, "user_id").filter(
        (F.col("tts") < F.col("pts"))
        & (F.col("tts") >= F.col("pts") - 72 * 3600)
    )
    w = Window.partitionBy("pid").orderBy("tts", "tid")
    ranked = paired.select(
        "pid",
        "cents",
        "channel",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(
            Window.partitionBy("pid").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n"),
    )
    forty = F.expr("(cents * 2) div 5")
    pool = F.col("cents") - 2 * forty
    mid_base = F.expr(
        "(cents - 2 * ((cents * 2) div 5)) div (n - 2)"
    )
    mid_rem = F.expr("(cents - 2 * ((cents * 2) div 5)) % (n - 2)")
    credit = (
        F.when(F.col("n") == 1, F.col("cents"))
        .when(
            F.col("n") == 2,
            F.when(
                F.col("rk") == 1,
                F.col("cents") - F.expr("cents div 2"),
            ).otherwise(F.expr("cents div 2")),
        )
        .when(F.col("rk") == 1, forty)
        .when(F.col("rk") == F.col("n"), forty)
        .otherwise(
            mid_base
            + F.when(F.col("rk") - 1 <= mid_rem, 1).otherwise(0)
        )
    )
    _ = pool  # documented above; folded into mid_base/mid_rem exprs
    return ranked.groupBy("channel").agg(
        F.count(F.lit(1)).alias("n_touches"),
        F.sum(credit).alias("credited_cents"),
    )


_EVENTS_POSITIONAL_ATTRIBUTION_ORACLE = """
WITH ev AS (
  SELECT event_id, user_id, event_type,
         epoch_us(ts) // 1000000 AS es,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
), purchases AS (
  SELECT event_id AS pid, user_id, es AS pts, cents
  FROM ev WHERE event_type = 'purchase'
), touches AS (
  SELECT user_id, event_type AS channel, es AS tts, event_id AS tid
  FROM ev WHERE event_type IN ('click', 'view', 'signup')
), ranked AS (
  SELECT p.pid, p.cents, t.channel,
         row_number() OVER (
           PARTITION BY p.pid ORDER BY t.tts, t.tid) AS rk,
         count(*) OVER (PARTITION BY p.pid) AS n
  FROM purchases p JOIN touches t
    ON p.user_id = t.user_id
   AND t.tts < p.pts AND t.tts >= p.pts - 72 * 3600
), credited AS (
  SELECT channel,
         CASE
           WHEN n = 1 THEN cents
           WHEN n = 2 AND rk = 1 THEN cents - cents // 2
           WHEN n = 2 THEN cents // 2
           WHEN rk = 1 OR rk = n THEN (cents * 2) // 5
           ELSE (cents - 2 * ((cents * 2) // 5)) // (n - 2)
                + CASE WHEN rk - 1 <= (cents - 2 * ((cents * 2) // 5))
                                      % (n - 2)
                       THEN 1 ELSE 0 END
         END AS credit
  FROM ranked
)
SELECT channel,
       CAST(count(*) AS BIGINT) AS n_touches,
       CAST(sum(credit) AS BIGINT) AS credited_cents
FROM credited GROUP BY 1
"""


def q_doc_calibration_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A47 — classifier reliability diagram: a deterministic quality
    score in milli-units (length signal + hash noise, clamped to
    [0, 1000]) binned into 10 fixed-width buckets against the observed
    positive rate of the label it predicts (token count ≥ 55). Per bin:
    count, positives, mean predicted probability (one exact BIGINT sum
    through two fixed divisions) and observed rate (one division) — the
    table a calibration/ECE monitor plots before trusting a quality
    classifier to filter a corpus.

    Scale: map-only scoring + ONE partial-aggregable rollup over 10
    fixed bins — no window, no quantile, no join."""
    from floatchat_datapipeline_spark.functions.textstats import md5_long

    docs = load_table(spark, sf_dir, "documents")
    h = md5_long(
        F.concat(F.lit("cal|"), F.col("doc_id").cast("string"))
    ) % 400
    raw = (F.col("n_chars") * 2 + h - 200) * 1000
    toks = (
        F.length("text")
        - F.length(F.regexp_replace("text", " ", ""))
        + 1
    )
    # Integer `div`, never double `/` + cast: a true quotient one ulp
    # below an integer rounds up in double and truncates differently.
    scored = docs.select(
        raw.alias("raw"), (toks >= 55).cast("long").alias("pos")
    ).select(
        F.expr(
            "least(1000L, greatest(0L, raw div 1200))"
        ).alias("score_milli"),
        "pos",
    )
    binned = scored.groupBy(
        F.least(F.expr("score_milli div 100"), F.lit(9)).alias("bin")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("pos").alias("n_pos"),
        (
            F.sum("score_milli").cast("double") / 1000 / F.count(F.lit(1))
        ).alias("mean_predicted"),
        (F.sum("pos").cast("double") / F.count(F.lit(1))).alias(
            "observed_rate"
        ),
    )
    return binned


_DOC_CALIBRATION_CURVE_ORACLE = """
WITH scored AS (
  SELECT least(1000, greatest(0,
           ((n_chars * 2
             + CAST('0x' || substr(md5('cal|' || CAST(doc_id AS VARCHAR)),
                                   1, 15) AS BIGINT) % 400
             - 200) * 1000) // 1200)) AS score_milli,
         CASE WHEN length(text) - length(replace(text, ' ', '')) + 1 >= 55
              THEN 1 ELSE 0 END AS pos
  FROM documents
)
SELECT least(score_milli // 100, 9) AS bin,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(pos) AS BIGINT) AS n_pos,
       CAST(sum(score_milli) AS BIGINT)::DOUBLE / 1000 / count(*)
         AS mean_predicted,
       CAST(sum(pos) AS BIGINT)::DOUBLE / count(*) AS observed_rate
FROM scored GROUP BY 1
"""


def q_events_m4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS22 — M4 downsampling (Jugel et al., VLDB 2014): per event_type
    and 24-hour pixel bucket, keep exactly the four extreme points of
    the hourly count series — first, last, min-value, max-value — the
    provably pixel-perfect reduction for line-chart rendering (unlike
    LTTB it is PURELY relational: no greedy chain, no Python). The
    series is densified onto the hour spine (missing hours are true
    zeros). Tie-breaking is explicit: among equal min/max values the
    EARLIEST hour wins, via conditional-min aggregation (never min_by /
    arg_min, whose tie order is engine-undefined).

    Scale: one partial-aggregable hourly rollup, a broadcast joinback
    of the tiny per-bucket extremes (types × buckets rows), one final
    rollup — the two fact shuffles are both partial-agg; nothing
    windows."""
    from floatchat_datapipeline_spark.functions.eventtime import (
        epoch_micros,
        long_div,
    )

    hourly = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            long_div(
                epoch_micros(F.date_trunc("hour", F.col("ts"))),
                3_600_000_000,
            ).alias("hx"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    bounds = hourly.groupBy("event_type").agg(
        F.min("hx").alias("lo"), F.max("hx").alias("hi")
    )
    spine = bounds.select(
        "event_type",
        F.col("lo"),
        F.explode(F.sequence("lo", "hi")).alias("hx"),
    )
    dense = (
        spine.join(hourly, ["event_type", "hx"], "left")
        .select(
            "event_type",
            F.expr("(hx - lo) div 24").alias("b"),
            "hx",
            F.coalesce("n", F.lit(0)).alias("x"),
        )
    )
    ext = dense.groupBy("event_type", "b").agg(
        F.min("hx").alias("t_first"),
        F.max("hx").alias("t_last"),
        F.min("x").alias("x_min"),
        F.max("x").alias("x_max"),
    )
    joined = dense.join(F.broadcast(ext), ["event_type", "b"])
    return joined.groupBy("event_type", "b").agg(
        F.max("t_first").alias("t_first"),
        F.min(
            F.when(F.col("hx") == F.col("t_first"), F.col("x"))
        ).alias("x_first"),
        F.max("t_last").alias("t_last"),
        F.min(F.when(F.col("hx") == F.col("t_last"), F.col("x"))).alias(
            "x_last"
        ),
        F.max("x_min").alias("x_min"),
        F.min(F.when(F.col("x") == F.col("x_min"), F.col("hx"))).alias(
            "t_at_min"
        ),
        F.max("x_max").alias("x_max"),
        F.min(F.when(F.col("x") == F.col("x_max"), F.col("hx"))).alias(
            "t_at_max"
        ),
    )


_EVENTS_M4_ORACLE = """
WITH hourly AS (
  SELECT event_type,
         epoch_us(date_trunc('hour', ts)) // 3600000000 AS hx,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
), bounds AS (
  SELECT event_type, min(hx) AS lo, max(hx) AS hi FROM hourly GROUP BY 1
), spine AS (
  SELECT event_type, lo, unnest(range(lo, hi + 1)) AS hx FROM bounds
), dense AS (
  SELECT s.event_type, (s.hx - s.lo) // 24 AS b, s.hx,
         COALESCE(h.n, 0) AS x
  FROM spine s LEFT JOIN hourly h USING (event_type, hx)
), ext AS (
  SELECT event_type, b,
         min(hx) AS t_first, max(hx) AS t_last,
         min(x) AS x_min, max(x) AS x_max
  FROM dense GROUP BY 1, 2
)
SELECT d.event_type, d.b,
       max(e.t_first) AS t_first,
       min(CASE WHEN d.hx = e.t_first THEN d.x END) AS x_first,
       max(e.t_last) AS t_last,
       min(CASE WHEN d.hx = e.t_last THEN d.x END) AS x_last,
       max(e.x_min) AS x_min,
       min(CASE WHEN d.x = e.x_min THEN d.hx END) AS t_at_min,
       max(e.x_max) AS x_max,
       min(CASE WHEN d.x = e.x_max THEN d.hx END) AS t_at_max
FROM dense d JOIN ext e USING (event_type, b)
GROUP BY 1, 2
"""


def q_corpus_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z4 — corpus shard/compaction planner: assign documents to
    ~25 000-char target shards by greedy sequential packing (a doc goes
    to the shard where its exclusive running total starts — the
    write-path planner that turns a ragged corpus into even output
    files). The global running total is plans/scale.ranged_cumsum —
    the range-partitioned two-phase cumsum, NOT a single-partition
    window — over the doc_id total order. Per shard: doc count, char
    mass, id span, and fill ratio (one division of exact BIGINTs).

    Scale: this is exactly the pattern that sizes 100 TB writes; the
    cumsum is two partial-agg passes + a broadcast of 32 prefix
    offsets."""
    from floatchat_datapipeline_spark.plans.scale import ranged_cumsum

    target = 25_000
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars"
    )
    cum = ranged_cumsum(docs, ["doc_id"], "n_chars", out_col="cum")
    assigned = cum.select(
        "doc_id",
        "n_chars",
        F.expr(f"(cum - n_chars) div {target}").alias("shard"),
    )
    return assigned.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("chars"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
        (F.sum("n_chars").cast("double") / target).alias("fill_ratio"),
    )


_CORPUS_SHARD_PLAN_ORACLE = """
WITH cum AS (
  SELECT doc_id, n_chars,
         CAST(COALESCE(sum(n_chars) OVER (
           ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS excl
  FROM documents
)
SELECT excl // 25000 AS shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS chars,
       min(doc_id) AS first_doc,
       max(doc_id) AS last_doc,
       CAST(sum(n_chars) AS BIGINT)::DOUBLE / 25000 AS fill_ratio
FROM cum GROUP BY 1
"""


def q_events_srm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A48 — sample-ratio-mismatch (SRM) check for the A31 experiment
    assignment: per event_type, the 1-df chi-square of the observed
    variant split against the designed 50/50 — THE guardrail an
    experimentation platform runs before trusting any lift number
    (Fabijan et al. 2019). χ² = (n0−n1)²/(n0+n1) is one IEEE division
    of exact BIGINTs; the alarm gate cross-multiplies against the
    α=0.05 critical value 3.8415 in integers (10000·(n0−n1)² >
    38415·(n0+n1)), so the boolean can never drift between engines.

    Scale: one partial-aggregable rollup; everything after is
    types-sized."""
    ev = load_table(spark, sf_dir, "events")
    per = ev.groupBy("event_type").agg(
        F.sum(
            F.when(F.col("user_id") % 2 == 0, 1).otherwise(0)
        ).alias("n0"),
        F.sum(
            F.when(F.col("user_id") % 2 == 1, 1).otherwise(0)
        ).alias("n1"),
    )
    d = F.col("n0") - F.col("n1")
    tot = F.col("n0") + F.col("n1")
    return per.select(
        "event_type",
        "n0",
        "n1",
        ((d * d).cast("double") / tot.cast("double")).alias("chi2"),
        (10000 * d * d > 38415 * tot).alias("srm_alarm"),
    )


_EVENTS_SRM_ORACLE = """
WITH per AS (
  SELECT event_type,
         CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n0,
         CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n1
  FROM events GROUP BY 1
)
SELECT event_type, n0, n1,
       CAST((n0 - n1) * (n0 - n1) AS DOUBLE) / CAST(n0 + n1 AS DOUBLE)
         AS chi2,
       10000 * (n0 - n1) * (n0 - n1) > 38415 * (n0 + n1) AS srm_alarm
FROM per
"""


def q_dup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D11 — dedup audit rollup: the cluster-SIZE histogram of the D5
    near-dup components (how many pairs, triples, …, giant clusters the
    LSH closure found) plus the removable-doc count per size — the
    report that tells a corpus owner what fraction of the corpus
    deduplication will delete BEFORE running the delete. Reuses the
    memoized D5 component index (operators/dedup.dup_components); the
    oracle extends the recursive-CTE connectivity replay with the same
    two rollups.

    Scale: the histogram is two partial-agg rollups over the component
    table — free next to the closure itself."""
    from floatchat_datapipeline_spark.operators.dedup import dup_components

    comp = dup_components(
        load_table(spark, sf_dir, "documents"), spark, cache_key=sf_dir
    )
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("size")
    )
    return sizes.groupBy("size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        (F.col("size") * F.count(F.lit(1))).alias("n_docs"),
        ((F.col("size") - 1) * F.count(F.lit(1))).alias("removable_docs"),
    )


_DUP_CLUSTER_SIZES_ORACLE = f"""
WITH RECURSIVE {_DUP_COMPONENTS_SQL},
sizes AS (
  SELECT component, CAST(count(*) AS BIGINT) AS size
  FROM comp GROUP BY 1
)
SELECT size,
       CAST(count(*) AS BIGINT) AS n_clusters,
       size * CAST(count(*) AS BIGINT) AS n_docs,
       (size - 1) * CAST(count(*) AS BIGINT) AS removable_docs
FROM sizes GROUP BY 1
"""


def q_vocab_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L27 — Zipf-law fit per language: OLS slope of ln(freq) on
    ln(rank) over the top-200 tokens (natural corpora fit slope ≈ −1;
    a synthetic or templated corpus shows up as a flat slope — exactly
    this generator's ~40-word vocabulary does, making the fit a
    corpus-provenance detector). Parity: ln(rank)/ln(freq) are
    quantized to exact 1e-6 BIGINT units BEFORE the five OLS sums, so
    partial aggregation order cannot move a bit (the A25 integer
    normal-equation rule, extended to log space — products stay ≤ 2^58
    at the 1e-6 scale); slope and the fit correlation are one final
    division / the num/(sqrt·sqrt) call sequence.

    Scale: the token rollup is the only fact shuffle; the rank window
    partitions per lang over the DISTINCT-TOKEN domain (vocabulary-
    bounded, not corpus-bounded) and row_number caps it at 200."""
    from pyspark.sql import Window

    toks = (
        load_table(spark, sf_dir, "documents")
        .select(
            "lang",
            F.explode(F.split(F.col("text"), " ")).alias("token"),
        )
        .filter(F.col("token") != "")
    )
    freq = toks.groupBy("lang", "token").agg(
        F.count(F.lit(1)).alias("freq")
    )
    w = Window.partitionBy("lang").orderBy(
        F.desc("freq"), F.col("token")
    )
    ranked = (
        freq.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 200)
        .select(
            "lang",
            F.round(F.log(F.col("rank").cast("double")) * 1_000_000)
            .cast("long")
            .alias("x"),
            F.round(F.log(F.col("freq").cast("double")) * 1_000_000)
            .cast("long")
            .alias("y"),
        )
    )
    n = F.count(F.lit(1))
    sx, sy = F.sum("x"), F.sum("y")
    sxy = F.sum(F.col("x") * F.col("y"))
    sxx = F.sum(F.col("x") * F.col("x"))
    syy = F.sum(F.col("y") * F.col("y"))
    agg = ranked.groupBy("lang").agg(
        n.alias("n_points"),
        (n * sxy - sx * sy).alias("num"),
        (n * sxx - sx * sx).alias("d1"),
        (n * syy - sy * sy).alias("d2"),
    )
    return agg.select(
        "lang",
        "n_points",
        F.when(
            F.col("d1") > 0,
            F.col("num").cast("double") / F.col("d1").cast("double"),
        ).alias("zipf_slope"),
        F.when(
            (F.col("d1") > 0) & (F.col("d2") > 0),
            F.col("num").cast("double")
            / (
                F.sqrt(F.col("d1").cast("double"))
                * F.sqrt(F.col("d2").cast("double"))
            ),
        ).alias("fit_corr"),
    )


_VOCAB_ZIPF_FIT_ORACLE = """
WITH toks AS (
  SELECT lang, t.token
  FROM documents,
       LATERAL (SELECT unnest(string_split(text, ' ')) AS token) t
  WHERE t.token <> ''
), freq AS (
  SELECT lang, token, CAST(count(*) AS BIGINT) AS freq
  FROM toks GROUP BY 1, 2
), ranked AS (
  SELECT lang,
         CAST(round(ln(CAST(rank AS DOUBLE)) * 1000000) AS BIGINT) AS x,
         CAST(round(ln(CAST(freq AS DOUBLE)) * 1000000) AS BIGINT) AS y
  FROM (
    SELECT lang, freq, row_number() OVER (
      PARTITION BY lang ORDER BY freq DESC, token) AS rank
    FROM freq)
  WHERE rank <= 200
), agg AS (
  SELECT lang,
         CAST(count(*) AS BIGINT) AS n_points,
         CAST(count(*) * sum(x * y) - sum(x) * sum(y) AS BIGINT) AS num,
         CAST(count(*) * sum(x * x) - sum(x) * sum(x) AS BIGINT) AS d1,
         CAST(count(*) * sum(y * y) - sum(y) * sum(y) AS BIGINT) AS d2
  FROM ranked GROUP BY 1
)
SELECT lang, n_points,
       CASE WHEN d1 > 0 THEN CAST(num AS DOUBLE) / CAST(d1 AS DOUBLE) END
         AS zipf_slope,
       CASE WHEN d1 > 0 AND d2 > 0 THEN
         CAST(num AS DOUBLE)
         / (sqrt(CAST(d1 AS DOUBLE)) * sqrt(CAST(d2 AS DOUBLE)))
       END AS fit_corr
FROM agg
"""


def q_user_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A50 — Kaplan–Meier survival curve for signup→first-purchase
    conversion: per user, duration in whole days from first signup to
    first subsequent purchase (event) or to the corpus horizon
    (right-censored); at each event day t the K-M estimator multiplies
    (1 − d_t/n_t) over the at-risk population. Parity: each factor's
    log ln(n−d) − ln(n) is quantized to an exact 1e-9 BIGINT nano-nat
    BEFORE the running sum, so the cumulative product is an exact
    integer both engines agree on bit-for-bit; the reported survival
    re-exponentiates that one integer and rounds at 1e-6 (the L20
    round-after-transcendental rule). A day where every at-risk user
    converts (n=d) pins survival to exactly 0 thereafter.

    Scale: two per-user rollups (partial-agg), then EVERYTHING runs on
    the distinct-duration-day domain (data-bounded: ≤ observation
    window in days), where the reverse at-risk cumsum and the running
    log-sum are tiny windows."""
    from floatchat_datapipeline_spark.functions.eventtime import (
        epoch_seconds,
    )
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        epoch_seconds(F.col("ts")).alias("es"),
    )
    horizon = ev.agg(F.max("es").alias("hz"))
    signup = ev.filter(F.col("event_type") == "signup").groupBy(
        "user_id"
    ).agg(F.min("es").alias("t0"))
    first_purchase = (
        ev.filter(F.col("event_type") == "purchase")
        .join(signup, "user_id")
        .filter(F.col("es") >= F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("es").alias("te"), F.max("t0").alias("t0"))
    )
    durations = (
        signup.join(
            first_purchase.select("user_id", "te"), "user_id", "left"
        )
        .crossJoin(F.broadcast(horizon))
        .select(
            F.when(
                F.col("te").isNotNull(),
                F.expr("(te - t0) div 86400"),
            )
            .otherwise(F.expr("(hz - t0) div 86400"))
            .alias("day"),
            F.col("te").isNotNull().cast("long").alias("observed"),
        )
    )
    daily = durations.groupBy("day").agg(
        F.sum("observed").alias("d"),
        F.count(F.lit(1)).alias("m"),
    )
    w_rev = Window.orderBy(F.desc("day")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    at_risk = daily.select(
        "day", "d", F.sum("m").over(w_rev).alias("n_risk")
    ).filter(F.col("d") > 0)
    term = F.when(
        F.col("n_risk") > F.col("d"),
        F.round(
            (
                F.log(F.col("n_risk") - F.col("d"))
                - F.log(F.col("n_risk"))
            )
            * 1_000_000_000
        ).cast("long"),
    )
    w_fwd = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    stepped = at_risk.select(
        "day",
        "d",
        "n_risk",
        F.sum(term.isNull().cast("long")).over(w_fwd).alias("_zeroed"),
        F.sum(F.coalesce(term, F.lit(0))).over(w_fwd).alias("_lognano"),
    )
    return stepped.select(
        "day",
        "d",
        "n_risk",
        F.when(F.col("_zeroed") > 0, F.lit(0.0))
        .otherwise(
            F.round(F.exp(F.col("_lognano").cast("double") / 1e9), 6)
        )
        .alias("survival"),
    )


_USER_SURVIVAL_CURVE_ORACLE = """
WITH ev AS (
  SELECT user_id, event_type, epoch_us(ts) // 1000000 AS es FROM events
), horizon AS (
  SELECT max(es) AS hz FROM ev
), signup AS (
  SELECT user_id, min(es) AS t0 FROM ev
  WHERE event_type = 'signup' GROUP BY 1
), first_purchase AS (
  SELECT e.user_id, min(e.es) AS te
  FROM ev e JOIN signup s USING (user_id)
  WHERE e.event_type = 'purchase' AND e.es >= s.t0
  GROUP BY 1
), durations AS (
  SELECT CASE WHEN p.te IS NOT NULL
              THEN (p.te - s.t0) // 86400
              ELSE ((SELECT hz FROM horizon) - s.t0) // 86400 END AS day,
         CASE WHEN p.te IS NOT NULL THEN 1 ELSE 0 END AS observed
  FROM signup s LEFT JOIN first_purchase p USING (user_id)
), daily AS (
  SELECT day, CAST(sum(observed) AS BIGINT) AS d,
         CAST(count(*) AS BIGINT) AS m
  FROM durations GROUP BY 1
), at_risk AS (
  SELECT day, d,
         CAST(sum(m) OVER (ORDER BY day DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS n_risk
  FROM daily
), steps AS (
  SELECT day, d, n_risk,
         CASE WHEN n_risk > d THEN
           CAST(round((ln(CAST(n_risk - d AS DOUBLE))
                       - ln(CAST(n_risk AS DOUBLE))) * 1000000000)
                AS BIGINT)
         END AS term
  FROM at_risk WHERE d > 0
), cum AS (
  SELECT day, d, n_risk,
         CAST(sum(CASE WHEN term IS NULL THEN 1 ELSE 0 END) OVER (
           ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS zeroed,
         CAST(sum(COALESCE(term, 0)) OVER (
           ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS lognano
  FROM steps
)
SELECT day, d, n_risk,
       CASE WHEN zeroed > 0 THEN 0.0
            ELSE round(exp(CAST(lognano AS DOUBLE) / 1e9), 6) END
         AS survival
FROM cum
"""


_LTTB_BUCKETS = 28


def q_events_lttb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS23 — LTTB downsampling (Steinarsson 2013, the TimescaleDB
    toolkit's `lttb`): reduce each event_type's densified hourly count
    series to 30 points — first, last, and per interior bucket the
    point forming the LARGEST TRIANGLE with the previously selected
    point and the next bucket's centroid. Complements M4 (TS22): M4 is
    the relational/parallel reduction, LTTB is the sequential greedy
    one — so it runs as a per-type applyInPandas integer replay (5
    groups; the series, not the fact table, crosses the Arrow seam).
    All geometry is exact BIGINT: the centroid division is cleared by
    scaling the cross-product through the bucket count (|2·area·cnt|),
    ties break to the earliest hour, so the greedy chain is
    deterministic and the DuckDB oracle replays it as a recursive CTE
    with a LATERAL argmax per step (the MMR-oracle pattern).

    Scale: the hourly rollup is the only fact shuffle; the greedy runs
    per type on a types×hours frame (bounded by wall-clock)."""
    import pandas as pd
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from floatchat_datapipeline_spark.functions.eventtime import (
        epoch_micros,
        long_div,
    )

    hourly = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            long_div(
                epoch_micros(F.date_trunc("hour", F.col("ts"))),
                3_600_000_000,
            ).alias("hx"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    bounds = hourly.groupBy("event_type").agg(
        F.min("hx").alias("lo"), F.max("hx").alias("hi")
    )
    spine = bounds.select(
        "event_type",
        F.col("lo"),
        F.explode(F.sequence("lo", "hi")).alias("hx"),
    )
    dense = spine.join(hourly, ["event_type", "hx"], "left").select(
        "event_type",
        (F.col("hx") - F.col("lo")).alias("t"),
        F.col("hx"),
        F.coalesce("n", F.lit(0)).alias("x"),
    )
    out_schema = StructType(
        [
            StructField("event_type", StringType()),
            StructField("t", LongType()),
            StructField("hx", LongType()),
            StructField("x", LongType()),
        ]
    )
    nb = _LTTB_BUCKETS

    def lttb(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("t").reset_index(drop=True)
        n = len(pdf)
        ts = [int(v) for v in pdf["t"]]
        xs = [int(v) for v in pdf["x"]]
        if n <= nb + 2:
            return pdf[["event_type", "t", "hx", "x"]]
        # interior points 1..n-2 into nb equal-count buckets
        buckets: list[list[int]] = [[] for _ in range(nb)]
        for i in range(1, n - 1):
            buckets[((i - 1) * nb) // (n - 2)].append(i)
        picks = [0]
        prev = 0
        for k in range(nb):
            if k + 1 < nb:
                nxt = buckets[k + 1]
                c = len(nxt)
                sx = sum(ts[i] for i in nxt)
                sy = sum(xs[i] for i in nxt)
            else:
                c, sx, sy = 1, ts[n - 1], xs[n - 1]
            ax, ay = ts[prev], xs[prev]
            best, best_area = None, -1
            for i in buckets[k]:
                area = abs(
                    (ax * c - sx) * (xs[i] - ay)
                    - (ax - ts[i]) * (sy - ay * c)
                )
                if area > best_area:
                    best, best_area = i, area
            picks.append(best)
            prev = best
        picks.append(n - 1)
        sel = pdf.iloc[picks]
        return sel[["event_type", "t", "hx", "x"]]

    return dense.groupBy("event_type").applyInPandas(lttb, out_schema)


def _events_lttb_oracle(nb: int = _LTTB_BUCKETS) -> str:
    return f"""
WITH RECURSIVE hourly AS (
  SELECT event_type,
         epoch_us(date_trunc('hour', ts)) // 3600000000 AS hx,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
), bounds AS (
  SELECT event_type, min(hx) AS lo, max(hx) AS hi FROM hourly GROUP BY 1
), spine AS (
  SELECT event_type, lo, unnest(range(lo, hi + 1)) AS hx FROM bounds
), dense AS MATERIALIZED (
  SELECT s.event_type, s.hx - s.lo AS t, s.hx, COALESCE(h.n, 0) AS x
  FROM spine s LEFT JOIN hourly h USING (event_type, hx)
), meta AS MATERIALIZED (
  SELECT event_type, CAST(count(*) AS BIGINT) AS npts FROM dense GROUP BY 1
), pts AS MATERIALIZED (
  -- interior points with their equal-count bucket index; short series
  -- (npts <= nb+2, the Spark path's pass-through guard) are excluded
  -- here so the bucket division (npts-2 >= nb+1 > 0) is always safe
  -- and the recursive chain never sees an empty bucket
  SELECT d.event_type, d.t, d.hx, d.x,
         ((d.t - 1) * {nb}) // (m.npts - 2) AS b
  FROM dense d JOIN meta m USING (event_type)
  WHERE m.npts > {nb} + 2 AND d.t >= 1 AND d.t <= m.npts - 2
), bsum AS MATERIALIZED (
  SELECT event_type, b, CAST(count(*) AS BIGINT) AS c,
         CAST(sum(t) AS BIGINT) AS sx, CAST(sum(x) AS BIGINT) AS sy
  FROM pts GROUP BY 1, 2
), lastpt AS MATERIALIZED (
  SELECT d.event_type, d.t, d.hx, d.x
  FROM dense d JOIN meta m USING (event_type)
  WHERE m.npts > {nb} + 2 AND d.t = m.npts - 1
), target AS MATERIALIZED (
  -- bucket k's triangle anchor: bucket k+1's sums, or the final point
  -- for the last bucket (scaled cross-product clears the centroid
  -- division: c=1, sx=t, sy=x makes the two cases one formula)
  SELECT event_type, b - 1 AS k, c, sx, sy FROM bsum WHERE b >= 1
  UNION ALL
  SELECT event_type, CAST({nb} - 1 AS BIGINT), CAST(1 AS BIGINT),
         t, x
  FROM lastpt
), sel AS (
  SELECT d.event_type, CAST(-1 AS BIGINT) AS k, d.t, d.hx, d.x
  FROM dense d JOIN meta m USING (event_type)
  WHERE m.npts > {nb} + 2 AND d.t = 0
  UNION ALL
  SELECT s.event_type, s.k + 1, c.t, c.hx, c.x
  FROM sel s JOIN LATERAL (
    SELECT p.t, p.hx, p.x
    FROM pts p JOIN target g
      ON g.event_type = p.event_type AND g.k = p.b
    WHERE p.event_type = s.event_type AND p.b = s.k + 1
    ORDER BY abs(
        (s.t * g.c - g.sx) * (p.x - s.x)
        - (s.t - p.t) * (g.sy - s.x * g.c)
      ) DESC, p.t
    LIMIT 1
  ) c ON true
  WHERE s.k + 1 < {nb}
)
SELECT event_type, t, hx, x FROM sel
UNION ALL
SELECT event_type, t, hx, x FROM lastpt
UNION ALL
-- short-series pass-through: mirrors the Spark path's n <= nb+2 guard
SELECT d.event_type, d.t, d.hx, d.x
FROM dense d JOIN meta m USING (event_type)
WHERE m.npts <= {nb} + 2
"""


_EVENTS_LTTB_ORACLE = _events_lttb_oracle()


def q_lang_source_mi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A51 — mutual information between the lang and source columns,
    decomposed per language (the redundancy audit that tells a corpus
    owner whether two metadata facets carry independent signal before
    stratifying on both). Each cell's pointwise term
    n_ij·(ln(N·n_ij) − ln(r_i·c_j)) is quantized to an exact 1e-6
    BIGINT unit BEFORE summation (the L27 rule: round after the
    transcendental, sum integers), so partial-agg order is irrelevant;
    the per-language contribution divides once by 1e6 and once by N.

    Scale: one partial-agg cell rollup over the fact table; margins
    come from the CELL table (langs×sources rows), broadcast back."""
    docs = load_table(spark, sf_dir, "documents")
    # langs×sources rows; localCheckpoint so the three margin branches
    # and the joinback reuse ONE fact rollup instead of four scans
    # (two-branch rule).
    cells = (
        docs.groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("nij"))
        .localCheckpoint(eager=True)
    )
    rmarg = cells.groupBy("lang").agg(F.sum("nij").alias("ri"))
    cmarg = cells.groupBy("source").agg(F.sum("nij").alias("cj"))
    total = cells.agg(F.sum("nij").alias("N"))
    j = (
        cells.join(F.broadcast(rmarg), "lang")
        .join(F.broadcast(cmarg), "source")
        .crossJoin(F.broadcast(total))
    )
    term = F.round(
        F.col("nij")
        * (
            F.log((F.col("N") * F.col("nij")).cast("double"))
            - F.log((F.col("ri") * F.col("cj")).cast("double"))
        )
        * 1_000_000
    ).cast("long")
    return j.groupBy("lang").agg(
        F.max("ri").alias("n_docs"),
        (
            F.sum(term).cast("double") / 1_000_000 / F.max("N")
        ).alias("mi_contribution"),
    )


_LANG_SOURCE_MI_ORACLE = """
WITH cells AS (
  SELECT lang, source, CAST(count(*) AS BIGINT) AS nij
  FROM documents GROUP BY 1, 2
), rmarg AS (
  SELECT lang, CAST(sum(nij) AS BIGINT) AS ri FROM cells GROUP BY 1
), cmarg AS (
  SELECT source, CAST(sum(nij) AS BIGINT) AS cj FROM cells GROUP BY 1
), total AS (
  SELECT CAST(sum(nij) AS BIGINT) AS N FROM cells
), terms AS (
  SELECT c.lang, r.ri, t.N,
         CAST(round(c.nij * (ln(CAST(t.N * c.nij AS DOUBLE))
                             - ln(CAST(r.ri * m.cj AS DOUBLE)))
                    * 1000000) AS BIGINT) AS term
  FROM cells c
  JOIN rmarg r USING (lang)
  JOIN cmarg m USING (source)
  CROSS JOIN total t
)
SELECT lang, max(ri) AS n_docs,
       CAST(sum(term) AS BIGINT)::DOUBLE / 1000000 / max(N)
         AS mi_contribution
FROM terms GROUP BY 1
"""


def q_media_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D12 / multimodal-phash — perceptual-hash near-dup detection over
    BINARY media columns, reported as a Hamming-distance histogram: a
    64-bit SimHash-style signature from each blob's byte-bucket
    histogram (bit b set iff bucket b holds more than 1/64 of the
    mass — exact cross-multiply), packed into two 32-bit BIGINT words
    (the V13 layout), candidate pairs from 4×16-bit LSH bands with the
    `_cap_key_frequency` skew cap (≤ 64 per band bucket), exact
    bit_count(XOR) Hamming on candidates. On a real image corpus the
    byte histogram is replaced by decoded perceptual features
    (operators/multimodal.decode_image, env-gated PIL — reference
    embeddings/embed.py:22-44's media path); the SPARK PLUMBING —
    binary column, Arrow-batched numpy signature pass, banded
    self-join, packed-word Hamming — is exactly what ships.

    Scale: signature build is one map-side Arrow pass (no byte rows
    ever shuffle — the r13 fix; the old per-byte hex explode carried
    each blob's full hex string on every byte row, a quadratic
    materialization); the banded join is bucketed, never all-pairs,
    and the cap bounds any degenerate band."""
    from floatchat_datapipeline_spark.operators.multimodal import (
        phash_signatures,
        synth_media,
    )
    from pyspark.sql import Window

    media = synth_media(load_table(spark, sf_dir, "documents"))
    # Signature build is ONE Arrow-batched numpy pass (see
    # operators/multimodal.phash_signatures — replaces the per-byte JVM
    # explode that materialized each blob's full hex string once per
    # byte row, plus its two histogram shuffles). The signature table is
    # N rows × 3 BIGINTs; localCheckpoint it so the band explode and
    # BOTH sides of the candidate self-join reuse the materialized sigs
    # instead of re-running the Python pass (two-branch rule).
    sig = phash_signatures(media).localCheckpoint(eager=True)
    bands = sig.select(
        "doc_id",
        "w0",
        "w1",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("k"),
    ).withColumn(
        "bv",
        F.expr(
            "case k when 0 then w0 & 65535 "
            "when 1 then shiftright(w0, 16) & 65535 "
            "when 2 then w1 & 65535 "
            "else shiftright(w1, 16) & 65535 end"
        ),
    )
    w = Window.partitionBy("k", "bv").orderBy("doc_id")
    capped = bands.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= 64
    )
    a = capped.select(
        F.col("k"),
        F.col("bv"),
        F.col("doc_id").alias("da"),
        F.col("w0").alias("a0"),
        F.col("w1").alias("a1"),
    )
    b = capped.select(
        F.col("k"),
        F.col("bv"),
        F.col("doc_id").alias("db"),
        F.col("w0").alias("b0"),
        F.col("w1").alias("b1"),
    )
    pairs = (
        a.join(b, ["k", "bv"])
        .filter(F.col("da") < F.col("db"))
        .select(
            "da",
            "db",
            (
                F.bit_count(F.expr("a0 ^ b0"))
                + F.bit_count(F.expr("a1 ^ b1"))
            ).alias("ham"),
        )
        .distinct()
    )
    return (
        pairs.filter(F.col("ham") <= 6)
        .groupBy("ham")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


_MEDIA_PHASH_PAIRS_ORACLE = f"""
WITH {_SYNTH_MEDIA_SQL.strip()}, bytes AS (
  SELECT doc_id,
         CAST('0x' || substr(hex(content), CAST(2 * i - 1 AS INT), 2)
              AS BIGINT) AS byte
  FROM media,
       LATERAL (SELECT unnest(range(1, octet_length(content) + 1)) AS i)
), hist AS (
  SELECT doc_id, byte // 4 AS bucket, CAST(count(*) AS BIGINT) AS mass
  FROM bytes GROUP BY 1, 2
), tot AS (
  SELECT doc_id, CAST(sum(mass) AS BIGINT) AS total FROM hist GROUP BY 1
), bits AS (
  SELECT h.doc_id, h.bucket,
         CASE WHEN 64 * h.mass > t.total THEN 1 ELSE 0 END AS bit
  FROM hist h JOIN tot t USING (doc_id)
), sig AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN bucket < 32
                  THEN bit * (1::BIGINT << CAST(bucket AS INT))
                  ELSE 0 END) AS BIGINT) AS w0,
         CAST(sum(CASE WHEN bucket >= 32
                  THEN bit * (1::BIGINT << CAST(bucket - 32 AS INT))
                  ELSE 0 END) AS BIGINT) AS w1
  FROM bits GROUP BY 1
), bands AS (
  SELECT doc_id, w0, w1, k,
         CASE k WHEN 0 THEN w0 & 65535
                WHEN 1 THEN (w0 >> 16) & 65535
                WHEN 2 THEN w1 & 65535
                ELSE (w1 >> 16) & 65535 END AS bv
  FROM sig, LATERAL (SELECT unnest(range(0, 4)) AS k)
), capped AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
      PARTITION BY k, bv ORDER BY doc_id) AS rn
    FROM bands)
  WHERE rn <= 64
), pairs AS (
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db,
         bit_count(xor(a.w0, b.w0)) + bit_count(xor(a.w1, b.w1)) AS ham
  FROM capped a JOIN capped b
    ON a.k = b.k AND a.bv = b.bv AND a.doc_id < b.doc_id
)
SELECT CAST(ham AS INT) AS ham, CAST(count(*) AS BIGINT) AS n_pairs
FROM pairs WHERE ham <= 6 GROUP BY 1
"""


def q_events_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G7 — personalized PageRank over the co-activity graph, teleport
    pinned to the seed cohort user_id % 7 == 0 (the 'similar to these
    users' recommendation primitive; rank measures proximity to the
    seeds, not global importance). Same BIGINT fixed-point machinery
    and chained-CTE oracle as G1 — integer associativity makes all ten
    iterations bit-identical under any shuffle order — and the same
    memoized edge list (operators/graph.coactivity_edges cache shared
    with G1/G2/G4). Top-50 by (rank desc, user_id): TakeOrdered, no
    global sort."""
    from floatchat_datapipeline_spark.operators.graph import (
        coactivity_edges,
        personalized_pagerank_fixed_point,
    )

    ev = load_table(spark, sf_dir, "events")
    edges = coactivity_edges(ev, cache_key=sf_dir)
    seeds = edges.select(F.col("src").alias("node")).filter(
        F.col("node") % 7 == 0
    )
    ranks = personalized_pagerank_fixed_point(edges, seeds, iters=10)
    return (
        ranks.select(
            F.col("node").alias("user_id"),
            F.col("rank").alias("rank_units"),
        )
        .orderBy(F.desc("rank_units"), "user_id")
        .limit(50)
    )


def _ppr_oracle(iters: int = 10, cap: int = 64) -> str:
    head = f"""
WITH members AS (
  SELECT DISTINCT event_type,
         epoch_us(ts) // 600000000 AS h, user_id
  FROM events
), capped AS (
  SELECT event_type, h, user_id FROM (
    SELECT *, row_number() OVER (
      PARTITION BY event_type, h ORDER BY user_id) AS rn
    FROM members)
  WHERE rn <= {cap}
), edges0 AS (
  SELECT DISTINCT a.user_id AS src, b.user_id AS dst
  FROM capped a JOIN capped b
    ON a.event_type = b.event_type AND a.h = b.h
   AND a.user_id <> b.user_id
), deg AS (
  SELECT src, count(*) AS outdeg FROM edges0 GROUP BY src
), edges AS (
  SELECT e.src, e.dst, d.outdeg FROM edges0 e JOIN deg d USING (src)
), nodes AS (
  SELECT DISTINCT src AS node,
         CASE WHEN src % 7 = 0 THEN 1 ELSE 0 END AS is_seed
  FROM edges0
), const AS (
  SELECT CAST(1000000000000000 // sum(is_seed) AS BIGINT) AS base
  FROM nodes
), r0 AS (
  SELECT node, is_seed,
         CAST(is_seed * (SELECT base FROM const) AS BIGINT) AS pr
  FROM nodes
)"""
    steps = []
    for i in range(1, iters + 1):
        steps.append(f""", r{i} AS (
  SELECT n.node, n.is_seed,
         CAST(n.is_seed * ((15 * (SELECT base FROM const)) // 100)
              + (85 * COALESCE(s.inflow, 0)) // 100 AS BIGINT) AS pr
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, CAST(sum(r.pr // e.outdeg) AS BIGINT) AS inflow
    FROM edges e JOIN r{i - 1} r ON r.node = e.src
    GROUP BY e.dst) s ON s.node = n.node
)""")
    tail = f"""
SELECT node AS user_id, pr AS rank_units
FROM r{iters}
ORDER BY rank_units DESC, user_id
LIMIT 50
"""
    return head + "".join(steps) + tail


_EVENTS_PPR_ORACLE = _ppr_oracle()


def q_whale_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A52 — whale concentration: the revenue share of the top 1 % of
    customers by exact-cents spend (n_whales = ceil(n/100)), the
    one-number complement to the A37 Gini curve. The global descending
    rank is plans/scale.ranged_cumsum of a ones column over the
    (-cents, custkey) total order — range-partitioned, never a
    single-partition window — and the share is one IEEE division of two
    exact BIGINTs."""
    from floatchat_datapipeline_spark.plans.scale import ranged_cumsum

    cust = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("long")
            ).alias("cents")
        )
        .withColumn("neg", -F.col("cents"))
        .withColumn("one", F.lit(1).cast("long"))
    )
    ranked = ranged_cumsum(
        cust, order_cols=["neg", "o_custkey"], value_col="one",
        out_col="rnk",
    )
    tot = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("total_cents"),
    )
    j = ranked.crossJoin(F.broadcast(tot))
    return j.agg(
        F.max("n").alias("n_customers"),
        F.max(F.expr("(n + 99) div 100")).alias("n_whales"),
        F.sum(
            F.when(
                F.col("rnk") <= F.expr("(n + 99) div 100"),
                F.col("cents"),
            ).otherwise(F.lit(0))
        ).alias("whale_cents"),
        F.max("total_cents").alias("total_cents"),
        (
            F.sum(
                F.when(
                    F.col("rnk") <= F.expr("(n + 99) div 100"),
                    F.col("cents"),
                ).otherwise(F.lit(0))
            ).cast("double")
            / F.max("total_cents").cast("double")
        ).alias("whale_share"),
    )


_WHALE_REVENUE_SHARE_ORACLE = """
WITH cust AS (
  SELECT o_custkey,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1
), ranked AS (
  SELECT cents,
         row_number() OVER (ORDER BY -cents, o_custkey) AS rnk
  FROM cust
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(cents) AS BIGINT) AS total_cents
  FROM ranked
)
SELECT t.n AS n_customers,
       (t.n + 99) // 100 AS n_whales,
       CAST(sum(CASE WHEN r.rnk <= (t.n + 99) // 100
                THEN r.cents ELSE 0 END) AS BIGINT) AS whale_cents,
       t.total_cents,
       CAST(sum(CASE WHEN r.rnk <= (t.n + 99) // 100
                THEN r.cents ELSE 0 END) AS BIGINT)::DOUBLE
         / CAST(t.total_cents AS DOUBLE) AS whale_share
FROM ranked r CROSS JOIN tot t
GROUP BY t.n, t.total_cents
"""


def q_events_scd2_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K13 — time-travel read over the K11 SCD2 dimension: reconstruct
    the per-(user, event_type) attribute state AS OF the corpus-midpoint
    instant (valid_from ≤ T < valid_to, open rows unbounded) — the
    query that makes the SCD2 lineage USEFUL: any historical snapshot
    without storing snapshots. T derives from the data ((min+max)/2
    epoch seconds, integer div), so the query is self-contained and the
    oracle replays the same interval filter over the same compaction.

    Scale: the SCD2 compaction is the K11 single-shuffle plan; the
    as-of filter is a per-row predicate on its output (at 100 TB this
    is where interval-aligned partitioning / Z-ordering on valid_from
    pays off — Z1's layout applies directly)."""
    from floatchat_datapipeline_spark.functions.eventtime import (
        epoch_seconds,
    )
    from floatchat_datapipeline_spark.operators.windows import scd2_compact

    ev = load_table(spark, sf_dir, "events")
    # midpoint via one tiny agg, broadcast as a 1-row dim
    bounds = ev.select(epoch_seconds(F.col("ts")).alias("es")).agg(
        F.expr("(min(es) + max(es)) div 2").alias("t_mid")
    )
    hist = scd2_compact(ev)
    j = hist.crossJoin(F.broadcast(bounds))
    return j.filter(
        (epoch_seconds(F.col("valid_from")) <= F.col("t_mid"))
        & (
            F.col("valid_to").isNull()
            | (epoch_seconds(F.col("valid_to")) > F.col("t_mid"))
        )
    ).select("user_id", "event_type", "value", "valid_from")


_EVENTS_SCD2_ASOF_ORACLE = """
WITH bounds AS (
  SELECT (min(epoch_us(ts) // 1000000)
          + max(epoch_us(ts) // 1000000)) // 2 AS t_mid
  FROM events
), ordered AS (
  SELECT user_id, event_type, value, ts, event_id,
         lag(value) OVER w AS prev,
         row_number() OVER w AS rn
  FROM events
  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
), changes AS (
  SELECT * FROM ordered WHERE rn = 1 OR value IS DISTINCT FROM prev
), hist AS (
  SELECT user_id, event_type, value, ts AS valid_from,
         lead(ts) OVER (
           PARTITION BY user_id, event_type ORDER BY ts, event_id
         ) AS valid_to
  FROM changes
)
SELECT h.user_id, h.event_type, h.value, h.valid_from
FROM hist h CROSS JOIN bounds b
WHERE epoch_us(h.valid_from) // 1000000 <= b.t_mid
  AND (h.valid_to IS NULL
       OR epoch_us(h.valid_to) // 1000000 > b.t_mid)
"""


def q_dedup_token_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L28 — dedup token-budget report per source: whitespace-token
    mass before dedup, the mass on removable docs (every non-keeper of
    a D5 near-dup component; keeper = min doc_id), and the survival
    fraction — the number a pretraining-budget owner reads BEFORE
    approving the dedup pass ('dedup costs us 7 % of src3's tokens').
    Reuses the memoized D5 component index; one division per source.

    Scale: token counting is map-only arithmetic on length(); the
    component join is a broadcast of the (small) dup-membership set —
    the D5 dedup-apply pattern."""
    from floatchat_datapipeline_spark.operators.dedup import dup_components

    docs = load_table(spark, sf_dir, "documents")
    comp = dup_components(docs, spark, cache_key=sf_dir)
    keepers = comp.groupBy("component").agg(
        F.min("doc_id").alias("keeper")
    )
    removable = (
        comp.join(
            F.broadcast(keepers),
            comp.component == keepers.component,
        )
        .filter(F.col("doc_id") != F.col("keeper"))
        .select("doc_id")
        .withColumn("_rm", F.lit(1))
    )
    toks = (
        F.length("text")
        - F.length(F.regexp_replace("text", " ", ""))
        + 1
    ).cast("long")
    flagged = docs.select(
        "source", "doc_id", toks.alias("toks")
    ).join(F.broadcast(removable), "doc_id", "left")
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("toks").alias("total_tokens"),
        F.sum(
            F.when(F.col("_rm") == 1, F.col("toks")).otherwise(0)
        ).alias("removable_tokens"),
        (
            (
                F.sum("toks")
                - F.sum(
                    F.when(F.col("_rm") == 1, F.col("toks")).otherwise(0)
                )
            ).cast("double")
            / F.sum("toks").cast("double")
        ).alias("kept_fraction"),
    )


_DEDUP_TOKEN_SAVINGS_ORACLE = f"""
WITH RECURSIVE {_DUP_COMPONENTS_SQL},
keepers AS (
  SELECT component, min(doc_id) AS keeper FROM comp GROUP BY 1
),
removable AS (
  SELECT c.doc_id
  FROM comp c JOIN keepers k ON c.component = k.component
  WHERE c.doc_id <> k.keeper
),
flagged AS (
  SELECT d.source,
         CAST(length(d.text) - length(replace(d.text, ' ', '')) + 1
              AS BIGINT) AS toks,
         CASE WHEN r.doc_id IS NOT NULL THEN 1 ELSE 0 END AS rm
  FROM documents d LEFT JOIN removable r ON d.doc_id = r.doc_id
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(toks) AS BIGINT) AS total_tokens,
       CAST(sum(CASE WHEN rm = 1 THEN toks ELSE 0 END) AS BIGINT)
         AS removable_tokens,
       CAST(sum(toks) - sum(CASE WHEN rm = 1 THEN toks ELSE 0 END)
            AS BIGINT)::DOUBLE
         / CAST(sum(toks) AS BIGINT)::DOUBLE AS kept_fraction
FROM flagged GROUP BY 1
"""


def q_incident_uptime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I4 — uptime report, the I3 overlap join's consuming KPI: per
    (user, active day), total active seconds, seconds spent inside any
    merged error-incident window, and the uptime fraction (one exact
    BIGINT division). Incident intervals are pre-merged by the I2
    gaps-and-islands rule, so overlapping incidents can never
    double-count a second.

    Scale: same shape as I3 (user-keyed equi-join + theta overlap) plus
    one partial-agg rollup back to the (user, day) grain."""
    from floatchat_datapipeline_spark.functions.eventtime import (
        epoch_seconds,
    )
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        epoch_seconds(F.col("ts")).alias("es"),
    )
    act = (
        ev.groupBy("user_id", F.expr("es div 86400").alias("day"))
        .agg(F.min("es").alias("a_start"), F.max("es").alias("a_end"))
        .filter(F.col("a_end") > F.col("a_start"))
    )
    err = ev.filter(F.col("event_type") == "error").select("user_id", "es")
    w = Window.partitionBy("user_id").orderBy("es", "user_id")
    prev_end = F.max(F.col("es") + 3600).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = err.select(
        "user_id",
        "es",
        F.when(prev_end.isNull() | (F.col("es") > prev_end), 1)
        .otherwise(0)
        .alias("new_island"),
    )
    incidents = (
        flagged.select(
            "user_id",
            "es",
            F.sum("new_island")
            .over(w.rowsBetween(Window.unboundedPreceding, 0))
            .alias("island"),
        )
        .groupBy("user_id", "island")
        .agg(
            F.min("es").alias("i_start"),
            (F.max("es") + 3600).alias("i_end"),
        )
    )
    joined = act.join(incidents, "user_id").filter(
        (F.col("i_start") < F.col("a_end"))
        & (F.col("a_start") < F.col("i_end"))
    )
    down = joined.groupBy("user_id", "day").agg(
        F.sum(
            F.least("a_end", "i_end") - F.greatest("a_start", "i_start")
        ).alias("down_seconds")
    )
    return (
        act.join(down, ["user_id", "day"], "left")
        .select(
            "user_id",
            "day",
            (F.col("a_end") - F.col("a_start")).alias("active_seconds"),
            F.coalesce("down_seconds", F.lit(0)).alias(
                "incident_seconds"
            ),
            (
                (
                    F.col("a_end")
                    - F.col("a_start")
                    - F.coalesce("down_seconds", F.lit(0))
                ).cast("double")
                / (F.col("a_end") - F.col("a_start")).cast("double")
            ).alias("uptime_fraction"),
        )
    )


_INCIDENT_UPTIME_ORACLE = """
WITH ev AS (
  SELECT user_id, event_type, epoch_us(ts) // 1000000 AS es FROM events
), act AS (
  SELECT user_id, es // 86400 AS day,
         min(es) AS a_start, max(es) AS a_end
  FROM ev GROUP BY 1, 2 HAVING max(es) > min(es)
), err AS (
  SELECT user_id, es FROM ev WHERE event_type = 'error'
), flagged AS (
  SELECT user_id, es,
         CASE WHEN max(es + 3600) OVER (
                PARTITION BY user_id ORDER BY es, user_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              IS NULL
           OR es > max(es + 3600) OVER (
                PARTITION BY user_id ORDER BY es, user_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         THEN 1 ELSE 0 END AS new_island
  FROM err
), islands AS (
  SELECT user_id, es,
         sum(new_island) OVER (
           PARTITION BY user_id ORDER BY es, user_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM flagged
), incidents AS (
  SELECT user_id, island, min(es) AS i_start, max(es) + 3600 AS i_end
  FROM islands GROUP BY 1, 2
), down AS (
  SELECT a.user_id, a.day,
         CAST(sum(least(a.a_end, i.i_end)
                  - greatest(a.a_start, i.i_start)) AS BIGINT)
           AS down_seconds
  FROM act a JOIN incidents i
    ON a.user_id = i.user_id
   AND i.i_start < a.a_end AND a.a_start < i.i_end
  GROUP BY 1, 2
)
SELECT a.user_id, a.day,
       a.a_end - a.a_start AS active_seconds,
       COALESCE(d.down_seconds, 0) AS incident_seconds,
       CAST(a.a_end - a.a_start - COALESCE(d.down_seconds, 0) AS DOUBLE)
         / CAST(a.a_end - a.a_start AS DOUBLE) AS uptime_fraction
FROM act a LEFT JOIN down d ON a.user_id = d.user_id AND a.day = d.day
"""


def q_events_wilson_lb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A53 — Wilson 95 % lower confidence bound on the per-type share
    of high-value events (cents ≥ 10000): the rate a dashboard should
    display INSTEAD of the raw proportion when n varies across groups
    (small-n groups get honestly wider intervals). Parity is the
    haversine rule applied to a pure-double tree: s and n are exact
    BIGINTs, and every engine evaluates the identical op sequence —
    p = s/n, z = 196e-2 literal, center = p + z²/(2n),
    rad = z·√(p(1−p)/n + z²/(4n²)), LB = (center − rad)/(1 + z²/n) —
    so each intermediate double is bit-identical.

    Scale: one partial-aggregable rollup; five output rows."""
    ev = load_table(spark, sf_dir, "events")
    per = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            (F.round(F.col("value") * 100).cast("long") >= 10000).cast(
                "long"
            )
        ).alias("s"),
    )
    return per.select(
        "event_type",
        "n",
        "s",
        F.expr(
            "(((cast(s as double) / cast(n as double))"
            " + (196e-2 * 196e-2) / (2e0 * cast(n as double)))"
            " - 196e-2 * sqrt("
            "   ((cast(s as double) / cast(n as double))"
            "    * (1e0 - cast(s as double) / cast(n as double)))"
            "   / cast(n as double)"
            "   + (196e-2 * 196e-2)"
            "     / (4e0 * cast(n as double) * cast(n as double))))"
            " / (1e0 + (196e-2 * 196e-2) / cast(n as double))"
        ).alias("wilson_lb"),
    )


_EVENTS_WILSON_LB_ORACLE = """
WITH per AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN CAST(round(value * 100) AS BIGINT) >= 10000
                  THEN 1 ELSE 0 END) AS BIGINT) AS s
  FROM events GROUP BY 1
)
SELECT event_type, n, s,
       (((CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
         + (196e-2 * 196e-2) / (2e0 * CAST(n AS DOUBLE)))
        - 196e-2 * sqrt(
            ((CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
             * (1e0 - CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))
            / CAST(n AS DOUBLE)
            + (196e-2 * 196e-2)
              / (4e0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
       / (1e0 + (196e-2 * 196e-2) / CAST(n AS DOUBLE)) AS wilson_lb
FROM per
"""


def q_trade_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G8 — degree assortativity of the bipartite customer↔supplier
    trade graph: the Pearson correlation of (outdeg(src), outdeg(dst))
    over all directed edges — strongly negative on a hub-spoke
    bipartite graph (low-degree customers attach to high-degree
    suppliers), the one-number structure fingerprint next to G5's
    degree CCDF. Degrees are exact integers, the five sums are BIGINT
    partial aggs, and r is the num/(sqrt·sqrt) fixed call sequence.
    (2^63 bound: M·Σ(j·k) ≤ M²·maxdeg² — safe to ~10^7 edges at
    10^3-degree hubs; prescale degrees by a common divisor beyond.)

    Scale: one degree rollup + two broadcast joinbacks of the degree
    table onto the edge list; no window anywhere."""
    edges = _trade_edges(spark, sf_dir)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    j = (
        edges.join(F.broadcast(deg), "src")
        .withColumnRenamed("d", "dj")
        .join(
            F.broadcast(deg.withColumnRenamed("src", "dst")),
            "dst",
        )
        .withColumnRenamed("d", "dk")
    )
    m = F.count(F.lit(1))
    sj, sk = F.sum("dj"), F.sum("dk")
    sjk = F.sum(F.col("dj") * F.col("dk"))
    sjj = F.sum(F.col("dj") * F.col("dj"))
    skk = F.sum(F.col("dk") * F.col("dk"))
    agg = j.agg(
        m.alias("n_edges"),
        (m * sjk - sj * sk).alias("num"),
        (m * sjj - sj * sj).alias("d1"),
        (m * skk - sk * sk).alias("d2"),
    )
    return agg.select(
        "n_edges",
        F.when(
            (F.col("d1") > 0) & (F.col("d2") > 0),
            F.col("num").cast("double")
            / (
                F.sqrt(F.col("d1").cast("double"))
                * F.sqrt(F.col("d2").cast("double"))
            ),
        ).alias("assortativity"),
    )


_TRADE_ASSORTATIVITY_ORACLE = """
WITH pairs AS MATERIALIZED (
  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
), e0 AS MATERIALIZED (
  SELECT 2 * c AS src, 2 * s + 1 AS dst FROM pairs
  UNION ALL
  SELECT 2 * s + 1 AS src, 2 * c AS dst FROM pairs
), deg AS MATERIALIZED (
  SELECT src, CAST(count(*) AS BIGINT) AS d FROM e0 GROUP BY 1
), j AS (
  SELECT a.d AS dj, b.d AS dk
  FROM e0 e
  JOIN deg a ON e.src = a.src
  JOIN deg b ON e.dst = b.src
), agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_edges,
         CAST(count(*) * sum(dj * dk) - sum(dj) * sum(dk) AS BIGINT)
           AS num,
         CAST(count(*) * sum(dj * dj) - sum(dj) * sum(dj) AS BIGINT)
           AS d1,
         CAST(count(*) * sum(dk * dk) - sum(dk) * sum(dk) AS BIGINT)
           AS d2
  FROM j
)
SELECT n_edges,
       CASE WHEN d1 > 0 AND d2 > 0 THEN
         CAST(num AS DOUBLE)
         / (sqrt(CAST(d1 AS DOUBLE)) * sqrt(CAST(d2 AS DOUBLE)))
       END AS assortativity
FROM agg
"""


def q_stream_srm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S20 — the A48 sample-ratio-mismatch guardrail as a STREAMING
    aggregation: per-type variant counts accumulate in streaming state
    (update mode) while events arrive; the chi-square and the
    integer-cross-multiplied alarm are derived on the final state. The
    batch SRM oracle checks it because the harness source replays the
    full backlog — the S10/S14 stream-twin contract."""
    from floatchat_datapipeline_spark.streaming.run import materialize
    from floatchat_datapipeline_spark.streaming.sources import stream_table

    ev = stream_table(spark, sf_dir, "events")
    per = ev.groupBy("event_type").agg(
        F.sum(
            F.when(F.col("user_id") % 2 == 0, 1).otherwise(0)
        ).alias("n0"),
        F.sum(
            F.when(F.col("user_id") % 2 == 1, 1).otherwise(0)
        ).alias("n1"),
    )
    # complete mode: the memory sink holds exactly the final state table
    # (update mode could emit a key once per micro-batch under a
    # multi-batch AvailableNow replay).
    counts = materialize(per, "q_stream_srm", output_mode="complete")
    d = F.col("n0") - F.col("n1")
    tot = F.col("n0") + F.col("n1")
    return counts.select(
        "event_type",
        "n0",
        "n1",
        ((d * d).cast("double") / tot.cast("double")).alias("chi2"),
        (10000 * d * d > 38415 * tot).alias("srm_alarm"),
    )


_STREAM_SRM_ORACLE = _EVENTS_SRM_ORACLE


def q_events_roc_alarms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS24 — robust rate-of-change alarms: hour-over-hour deltas of
    the densified per-type count series, alarmed where the delta sits
    more than 3 robust sigmas (MAD) from the per-type median delta —
    the derivative-space twin of the A20 level-space MAD outliers
    (spikes AND cliffs fire; a high-but-flat plateau doesn't). Deltas
    are exact BIGINTs; median and MAD are R-7 percentiles (the
    cross-engine-identical interpolation), and the gate compares the
    identical doubles both engines computed — the A20 precedent.

    Scale: one hourly partial-agg; lag, the two percentile rollups, and
    the joinbacks all run on the types×hours domain."""
    from floatchat_datapipeline_spark.functions.eventtime import (
        epoch_micros,
        long_div,
    )
    from pyspark.sql import Window

    hourly = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            long_div(
                epoch_micros(F.date_trunc("hour", F.col("ts"))),
                3_600_000_000,
            ).alias("hx"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    bounds = hourly.groupBy("event_type").agg(
        F.min("hx").alias("lo"), F.max("hx").alias("hi")
    )
    spine = bounds.select(
        "event_type", F.explode(F.sequence("lo", "hi")).alias("hx")
    )
    dense = spine.join(hourly, ["event_type", "hx"], "left").select(
        "event_type", "hx", F.coalesce("n", F.lit(0)).alias("x")
    )
    w = Window.partitionBy("event_type").orderBy("hx")
    # types×hours rows; checkpointed because THREE branches consume it
    # (median rollup, deviation join, final filter) — un-checkpointed,
    # each re-runs the fact rollup + spine + lag (two-branch rule;
    # measured 7.8 s → ~1 s at sf0.01).
    deltas = (
        dense.select(
            "event_type",
            "hx",
            "x",
            (F.col("x") - F.lag("x", 1).over(w)).alias("delta"),
        )
        .filter(F.col("delta").isNotNull())
        .localCheckpoint(eager=True)
    )
    med = deltas.groupBy("event_type").agg(
        F.expr("percentile(delta, 0.5e0)").alias("med")
    )
    devs = (
        deltas.join(F.broadcast(med), "event_type")
        .withColumn("dev", F.abs(F.col("delta") - F.col("med")))
        .localCheckpoint(eager=True)
    )
    mad = devs.groupBy("event_type").agg(
        F.expr("percentile(dev, 0.5e0)").alias("mad")
    )
    return (
        devs.join(F.broadcast(mad), "event_type")
        .filter(F.col("dev") > 3 * F.col("mad"))
        .select("event_type", "hx", "x", "delta")
    )


_EVENTS_ROC_ALARMS_ORACLE = """
WITH hourly AS (
  SELECT event_type,
         epoch_us(date_trunc('hour', ts)) // 3600000000 AS hx,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
), bounds AS (
  SELECT event_type, min(hx) AS lo, max(hx) AS hi FROM hourly GROUP BY 1
), spine AS (
  SELECT event_type, unnest(range(lo, hi + 1)) AS hx FROM bounds
), dense AS (
  SELECT s.event_type, s.hx, COALESCE(h.n, 0) AS x
  FROM spine s LEFT JOIN hourly h USING (event_type, hx)
), deltas AS (
  SELECT event_type, hx, x,
         x - lag(x) OVER (PARTITION BY event_type ORDER BY hx) AS delta
  FROM dense
), nn AS (
  SELECT * FROM deltas WHERE delta IS NOT NULL
), med AS (
  SELECT event_type, quantile_cont(delta, 0.5e0) AS med
  FROM nn GROUP BY 1
), devs AS (
  SELECT n.event_type, n.hx, n.x, n.delta,
         abs(n.delta - m.med) AS dev
  FROM nn n JOIN med m USING (event_type)
), mad AS (
  SELECT event_type, quantile_cont(dev, 0.5e0) AS mad
  FROM devs GROUP BY 1
)
SELECT d.event_type, d.hx, d.x, d.delta
FROM devs d JOIN mad m USING (event_type)
WHERE d.dev > 3 * m.mad
"""


def q_ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V15 — accuracy certificate for the V14 random-projection ANN:
    run the RP top-10 AND the exact quantized-L2 brute force, report
    recall@10 and a certified boolean (recall ≥ 0.8) — the A9/A11
    sketch-certificate pattern applied to vector search. This is the QA
    job an ANN deployment runs on a sample before trusting the index;
    at 100 TB the brute-force leg runs on a sampled slice while the RP
    leg is the production path (here the full corpus IS the sample).

    One row out; the intersection is a 10×10 id join."""
    emb = load_table(spark, sf_dir, "embeddings")
    rp = q_emb_rp_topk(spark, sf_dir).select("vec_id")
    q64 = F.expr(
        "transform(embedding, x -> "
        "cast(round(cast(x as double) * 10000) as bigint))"
    )
    base = emb.select("vec_id", q64.alias("q64"))
    qrow = base.filter(F.col("vec_id") == 0).select(
        F.col("q64").alias("qq")
    )
    brute = (
        base.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qrow))
        .select(
            "vec_id",
            F.expr(
                "aggregate(zip_with(q64, qq, (a, b) -> (a-b)*(a-b)), "
                "0L, (acc, x) -> acc + x)"
            ).alias("d"),
        )
        .orderBy("d", "vec_id")
        .limit(10)
        .select("vec_id")
    )
    hits = rp.join(brute, "vec_id")
    return hits.agg(
        F.lit(10).cast("long").alias("k"),
        F.count(F.lit(1)).alias("n_hits"),
        (F.count(F.lit(1)).cast("double") / 10).alias("recall"),
        (F.count(F.lit(1)) >= 8).alias("certified"),
    )


_ANN_RECALL_AUDIT_ORACLE = f"""
WITH rp AS ({_EMB_RP_TOPK_ORACLE}),
base2 AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS q64
  FROM embeddings
), qv2 AS (
  SELECT q64 AS qq FROM base2 WHERE vec_id = 0
), brute AS (
  SELECT vec_id FROM (
    SELECT vec_id,
           CAST(list_dot_product(
             list_transform(list_zip(q64, (SELECT qq FROM qv2)),
                            s -> s[1] - s[2]),
             list_transform(list_zip(q64, (SELECT qq FROM qv2)),
                            s -> s[1] - s[2])) AS BIGINT) AS d
    FROM base2 WHERE vec_id <> 0)
  ORDER BY d, vec_id LIMIT 10
)
SELECT CAST(10 AS BIGINT) AS k,
       CAST(count(*) AS BIGINT) AS n_hits,
       CAST(count(*) AS DOUBLE) / 10 AS recall,
       count(*) >= 8 AS certified
FROM rp JOIN brute USING (vec_id)
"""


def q_events_upsert_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2/K3/K6/K7 — deterministic change-log replay through the REAL
    keyed parquet sinks (sinks/upsert.py), then a rollup fingerprint of
    the final table state. This moves the MERGE semantics the reference
    implements as per-row SQL (ingest/db_handler.py:136-256 ON CONFLICT
    DO UPDATE / DO NOTHING; update_chromadb_measurements.py:285-304
    delete-then-add) from module-test-only coverage under the driver's
    value-hash gate:

      1. initial load  = upsert of the even-event_id slice (K6 on empty)
      2. upsert batch  = event_id % 3 rows, retyped + value+1 (K6/K1:
         new wins; odd multiples of 3 insert, even ones replace)
      3. append batch  = event_id % 5 rows retyped (K2 DO NOTHING: only
         ids absent so far insert)
      4. delete        = event_id % 7 keys (K7)

    Every write goes through _swap_write's staged-rename publish (K3),
    and the replay starts by clearing the state dir, so the query is
    idempotent — re-running hashes identically. The oracle replays the
    same four steps as set algebra over the events view.

    Scale: each step is one anti-join against a broadcast key set + a
    table rewrite — the vanilla-parquet MERGE cost documented in
    sinks/upsert.py (real deployments partition or use Delta; the
    helpers' partition_by seam keeps that path open). The rollup output
    uses exact integer math only (floor-cents, BIGINT sums)."""
    import shutil

    from floatchat_datapipeline_spark.sinks.bucketed import _layout_tag
    from floatchat_datapipeline_spark.sinks.upsert import (
        append_new,
        delete_keys,
        upsert,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    warehouse = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).removeprefix("file:")
    path = os.path.join(warehouse, f"upsert_replay_{_layout_tag(sf_dir)}")
    for p in (path, path + ".old"):
        if os.path.exists(p):
            shutil.rmtree(p)
    upsert(ev.filter(F.col("event_id") % 2 == 0), path, keys=("event_id",))
    upsert(
        ev.filter(F.col("event_id") % 3 == 0)
        .withColumn("event_type", F.lit("upserted"))
        .withColumn("value", F.col("value") + F.lit(1.0)),
        path,
        keys=("event_id",),
    )
    append_new(
        ev.filter(F.col("event_id") % 5 == 0).withColumn(
            "event_type", F.lit("appended")
        ),
        path,
        keys=("event_id",),
    )
    delete_keys(
        spark, path, ev.filter(F.col("event_id") % 7 == 0).select("event_id")
    )
    return (
        spark.read.parquet(path)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(F.expr("CAST(floor(value * 100) AS BIGINT)")).alias(
                "cents"
            ),
            F.sum("event_id").alias("id_sum"),
            F.min("event_id").alias("min_id"),
            F.max("event_id").alias("max_id"),
        )
    )


_EVENTS_UPSERT_REPLAY_ORACLE = """
WITH base AS (
  SELECT event_id, user_id, event_type, value
  FROM events WHERE event_id % 2 = 0
), u AS (
  SELECT event_id, user_id, 'upserted' AS event_type, value + 1e0 AS value
  FROM events WHERE event_id % 3 = 0
), s1 AS (
  -- upsert: new wins on key collision
  SELECT * FROM base b
  WHERE NOT EXISTS (SELECT 1 FROM u WHERE u.event_id = b.event_id)
  UNION ALL SELECT * FROM u
), a AS (
  SELECT event_id, user_id, 'appended' AS event_type, value
  FROM events WHERE event_id % 5 = 0
), s2 AS (
  -- append_new: existing wins, only absent keys insert
  SELECT * FROM s1
  UNION ALL
  SELECT * FROM a
  WHERE NOT EXISTS (SELECT 1 FROM s1 WHERE s1.event_id = a.event_id)
), s3 AS (
  SELECT * FROM s2 WHERE event_id % 7 <> 0
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents,
       CAST(sum(event_id) AS BIGINT) AS id_sum,
       min(event_id) AS min_id,
       max(event_id) AS max_id
FROM s3
GROUP BY event_type
"""


def q_emb_upsert_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4/K5 — the keyed-sink replay over the EMBEDDINGS table: vectors
    ride the sinks as a first-class array<float> parquet column
    (reference stores them as ChromaDB payloads;
    update_chromadb_measurements.py:285-304 delete-then-add). Initial
    upsert of the even-vec_id slice, then append_new (DO NOTHING) of
    the %3 slice relabeled — only odd multiples of 3 insert, colliding
    keys keep their original label — proving conflict-skip semantics
    hold for rows carrying vector payloads through the staged-rename
    publish. The rollup fingerprints the final state per vec_id%5
    bucket with an EXACT integer vector checksum:
    Σ floor(double(x)·1000) over each embedding, folded with BIGINT
    adds (float→double cast and the ·1000 product are deterministic
    IEEE on both engines; float addition order would not be)."""
    import shutil

    from floatchat_datapipeline_spark.sinks.bucketed import _layout_tag
    from floatchat_datapipeline_spark.sinks.upsert import append_new, upsert

    emb = load_table(spark, sf_dir, "embeddings")
    warehouse = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).removeprefix("file:")
    path = os.path.join(warehouse, f"emb_replay_{_layout_tag(sf_dir)}")
    for p in (path, path + ".old"):
        if os.path.exists(p):
            shutil.rmtree(p)
    upsert(emb.filter(F.col("vec_id") % 2 == 0), path, keys=("vec_id",))
    append_new(
        emb.filter(F.col("vec_id") % 3 == 0).withColumn(
            "label", F.lit(-1)
        ),
        path,
        keys=("vec_id",),
    )
    checksum = F.aggregate(
        F.expr(
            "transform(embedding,"
            " x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))"
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        spark.read.parquet(path)
        .groupBy((F.col("vec_id") % 5).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum(checksum).alias("vec_checksum"),
            F.sum("label").alias("label_sum"),
            F.min("vec_id").alias("min_id"),
            F.max("vec_id").alias("max_id"),
        )
    )


_EMB_UPSERT_REPLAY_ORACLE = """
WITH base AS (
  SELECT vec_id, embedding, label FROM embeddings WHERE vec_id % 2 = 0
), a AS (
  SELECT vec_id, embedding, -1 AS label
  FROM embeddings WHERE vec_id % 3 = 0
), s1 AS (
  SELECT * FROM base
  UNION ALL
  SELECT * FROM a
  WHERE NOT EXISTS (SELECT 1 FROM base WHERE base.vec_id = a.vec_id)
)
SELECT CAST(vec_id % 5 AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(sum(list_sum(list_transform(embedding,
              x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))))
            AS BIGINT) AS vec_checksum,
       CAST(sum(label) AS BIGINT) AS label_sum,
       min(vec_id) AS min_id,
       max(vec_id) AS max_id
FROM s1
GROUP BY 1
"""


def q_events_quality_observed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A15 — in-flight observed metrics (plans/metrics.observe_quality):
    row/null/range counters accumulate ON THE EXECUTORS while a real
    noop-write action runs — no second scan (reference main.py run
    summaries / fastapi_app.py processing stats, recomputed there with
    extra pandas passes). The query returns the observation payload as
    a 1-row DataFrame; the oracle recomputes the same aggregates with a
    plain scan — the driver hash thereby certifies the zero-cost
    observed path equals the paid-for aggregation."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from floatchat_datapipeline_spark.plans.metrics import observe_quality

    ev = load_table(spark, sf_dir, "events").select("value", "user_id")
    run = observe_quality(ev, numeric_cols=("value", "user_id"))
    run.df.write.format("noop").mode("overwrite").save()
    m = run.metrics()
    schema = StructType(
        [
            StructField("n_rows", LongType()),
            StructField("value_non_null", LongType()),
            StructField("value_min", DoubleType()),
            StructField("value_max", DoubleType()),
            StructField("user_id_non_null", LongType()),
            StructField("user_id_min", LongType()),
            StructField("user_id_max", LongType()),
        ]
    )
    return spark.createDataFrame(
        [
            (
                int(m["n_rows"]),
                int(m["value_non_null"]),
                float(m["value_min"]),
                float(m["value_max"]),
                int(m["user_id_non_null"]),
                int(m["user_id_min"]),
                int(m["user_id_max"]),
            )
        ],
        schema,
    )


_EVENTS_QUALITY_OBSERVED_ORACLE = """
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(value) AS BIGINT) AS value_non_null,
       min(value) AS value_min,
       max(value) AS value_max,
       CAST(count(user_id) AS BIGINT) AS user_id_non_null,
       CAST(min(user_id) AS BIGINT) AS user_id_min,
       CAST(max(user_id) AS BIGINT) AS user_id_max
FROM events
"""


def q_argo_sync_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 — the full per-float sync-job document
    (functions/text.sync_document_v4; reference
    sync_supabase_to_chromadb.py:121-177): multi-line header +
    flattened stats + the raw properties JSON appended via `to_json`
    over a typed struct (field order = declaration order, compact
    rendering — byte-identical in DuckDB's to_json(struct_pack(...))).
    Platform number falls back to the float id, matching the
    reference's payloads where both carry the WMO id."""
    from floatchat_datapipeline_spark.functions.text import sync_document_v4

    g = (
        _argo_clean_df(spark, sf_dir)
        .groupBy("float_id")
        .agg(
            F.countDistinct("profile_id").alias("total_profiles"),
            F.min("temperature").alias("temperature_min"),
            F.max("temperature").alias("temperature_max"),
            F.date_format(F.min("time"), "yyyy-MM-dd").alias("d0"),
            F.date_format(F.max("time"), "yyyy-MM-dd").alias("d1"),
        )
    )
    props = F.struct(
        F.col("total_profiles").alias("total_profiles"),
        F.struct(
            F.col("d0").alias("start"), F.col("d1").alias("finish")
        ).alias("date_range"),
    )
    return g.select(
        "float_id",
        sync_document_v4(
            {
                "float_id": F.col("float_id"),
                "platform_number": F.col("float_id"),
                "total_profiles": F.col("total_profiles"),
                "temperature_min": F.col("temperature_min"),
                "temperature_max": F.col("temperature_max"),
                "properties": props,
            }
        ).alias("doc"),
    )


_ARGO_SYNC_DOCUMENTS_ORACLE = _argo_oracle(
    """
, g AS (
  SELECT float_id,
         CAST(count(DISTINCT profile_id) AS BIGINT) AS total_profiles,
         min(temperature) + 0e0 AS tmin,
         max(temperature) + 0e0 AS tmax,
         strftime(min(time), '%Y-%m-%d') AS d0,
         strftime(max(time), '%Y-%m-%d') AS d1
  FROM argo_clean GROUP BY 1
)
SELECT float_id,
       concat(
         'Float Profile Data - ID: ', float_id,
         chr(10), 'Platform: ', float_id,
         chr(10), 'Profiles: ', CAST(total_profiles AS STRING),
         chr(10), 'Temperature: ',
         coalesce(CAST(round(tmin, 1) AS STRING), 'unknown'), ' to ',
         coalesce(CAST(round(tmax, 1) AS STRING), 'unknown'),
         ' °C', chr(10), 'Full JSON Data: ',
         to_json(struct_pack(
           total_profiles := total_profiles,
           date_range := struct_pack(start := d0, finish := d1)))
       ) AS doc
FROM g
"""
)


def q_events_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A54 — CUPED variance-reduced A/B readout (Deng et al. 2013, the
    standard pre-experiment covariate adjustment): per user, X = spend
    in the pre period, Y = spend in the post period (calendar midpoint
    split, derived lazily as a broadcast scalar — no eager driver job);
    θ = cov(X,Y)/var(X) pooled across variants; each variant reports
    mean(Y) and the adjusted mean(Y) − θ·(mean(X) − mean(X_pooled)),
    plus ρ² (the variance-reduction fraction CUPED buys).

    Parity: spend is exact 0.1-dollar BIGINT units, all five moment
    sums (Σx Σy Σxx Σxy Σyy) are exact integer partial aggs, and θ /
    adjusted means / ρ² are a FIXED double expression tree over those
    integer scalars — one value per engine, no order dependence.
    Products stay ≪ 2^63 through sf1 (n·Σxy ≈ 2e17; at extreme scale
    pre-divide the unit, only ratios matter — the A31 rule). Plan: one
    user rollup (partial-agg), then (2 variants + 1 pooled) tiny frames
    broadcast-joined."""
    from floatchat_datapipeline_spark.functions.eventtime import (
        epoch_micros,
        long_div,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        long_div(epoch_micros(F.col("ts")), 86_400_000_000).alias("d"),
        F.round(F.col("value") * 10).cast("long").alias("du"),
    )
    mid = ev.agg(F.expr("(min(d) + max(d) + 1) div 2").alias("mid"))
    per = (
        ev.crossJoin(F.broadcast(mid))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.col("d") < F.col("mid"), F.col("du")).otherwise(
                    F.lit(0)
                )
            ).alias("x"),
            F.sum(
                F.when(F.col("d") >= F.col("mid"), F.col("du")).otherwise(
                    F.lit(0)
                )
            ).alias("y"),
        )
        # two-branch rule: the pooled moments and the per-variant sums
        # both consume this |users|-row rollup — checkpoint it so the
        # fact table is scanned once, not once per branch
        .localCheckpoint(eager=True)
    )
    pooled = per.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    byv = per.groupBy((F.col("user_id") % 2).alias("variant")).agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("x").alias("pre_units"),
        F.sum("y").alias("post_units"),
    )
    cov = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    varx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    vary = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
        "double"
    )
    # Degenerate guards (lazy CaseWhen, q_events_anova_f pattern): a
    # constant pre-period (varx = 0, e.g. one user or identical spends)
    # leaves θ undefined — NULL it (adj inherits NULL through the
    # arithmetic without ever running the division), and ρ² additionally
    # needs vary ≠ 0. Mirrored CASEs in the oracle.
    theta = F.when(varx != F.lit(0.0), cov / varx)
    adj = (
        F.col("post_units").cast("double") / F.col("n_users")
        - theta
        * (
            F.col("pre_units").cast("double") / F.col("n_users")
            - F.col("sx").cast("double") / F.col("n")
        )
    )
    return byv.crossJoin(F.broadcast(pooled)).select(
        "variant",
        "n_users",
        "pre_units",
        "post_units",
        (F.col("post_units").cast("double") / F.col("n_users")).alias(
            "mean_post"
        ),
        adj.alias("adj_mean_post"),
        theta.alias("theta"),
        F.when(
            (varx != F.lit(0.0)) & (vary != F.lit(0.0)),
            cov * cov / (varx * vary),
        ).alias("rho2"),
    )


_EVENTS_CUPED_ORACLE = """
WITH ev AS (
  SELECT user_id,
         epoch_us(ts) // 86400000000 AS d,
         CAST(round(value * 10) AS BIGINT) AS du
  FROM events
), mid AS (
  SELECT (min(d) + max(d) + 1) // 2 AS mid FROM ev
), per AS (
  SELECT user_id,
         CAST(sum(CASE WHEN d < (SELECT mid FROM mid) THEN du
                       ELSE 0 END) AS BIGINT) AS x,
         CAST(sum(CASE WHEN d >= (SELECT mid FROM mid) THEN du
                       ELSE 0 END) AS BIGINT) AS y
  FROM ev GROUP BY 1
), pooled AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(y * y) AS BIGINT) AS syy
  FROM per
), byv AS (
  SELECT user_id % 2 AS variant,
         CAST(count(*) AS BIGINT) AS n_users,
         CAST(sum(x) AS BIGINT) AS pre_units,
         CAST(sum(y) AS BIGINT) AS post_units
  FROM per GROUP BY 1
)
SELECT variant, n_users, pre_units, post_units,
       CAST(post_units AS DOUBLE) / n_users AS mean_post,
       CASE WHEN n * sxx - sx * sx = 0 THEN NULL
       ELSE CAST(post_units AS DOUBLE) / n_users
         - (CAST(n * sxy - sx * sy AS DOUBLE)
            / CAST(n * sxx - sx * sx AS DOUBLE))
           * (CAST(pre_units AS DOUBLE) / n_users
              - CAST(sx AS DOUBLE) / n) END AS adj_mean_post,
       CASE WHEN n * sxx - sx * sx = 0 THEN NULL
       ELSE CAST(n * sxy - sx * sy AS DOUBLE)
         / CAST(n * sxx - sx * sx AS DOUBLE) END AS theta,
       CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0 THEN NULL
       ELSE CAST(n * sxy - sx * sy AS DOUBLE)
         * CAST(n * sxy - sx * sy AS DOUBLE)
         / (CAST(n * sxx - sx * sx AS DOUBLE)
            * CAST(n * syy - sy * sy AS DOUBLE)) END AS rho2
FROM byv, pooled
"""


def q_events_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A55 — Mann–Whitney U rank-sum test per event_type: does variant
    B's value distribution stochastically dominate variant A's (the
    nonparametric partner of the A31 mean-lift readout — robust to the
    heavy tails that invalidate a t-test)? Entirely exact until the
    final z: values collapse to cents, per-(type, cents) variant
    counts feed DOUBLED midrank sums (2·R_a = Σ tₐ·(2·cum_less + t + 1)
    — the ×2 clears the (t+1)/2 tie midpoint, keeping every rank sum a
    BIGINT), U from the closed form, and the tie-corrected normal
    z-score is ONE fixed double tree over five integer scalars
    (rounded 1e-9, the derived-float convention). The significance gate
    compares z² to 3.8415 — same two doubles on both engines.

    Plan: one partial-agg to the (type, cents) domain, a window
    PARTITIONED by type (never global), one per-type rollup."""
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    g = ev.groupBy(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("v"),
    ).agg(
        F.sum(
            F.when(F.col("user_id") % 2 == 0, F.lit(1)).otherwise(F.lit(0))
        ).alias("ta"),
        F.sum(
            F.when(F.col("user_id") % 2 == 1, F.lit(1)).otherwise(F.lit(0))
        ).alias("tb"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = g.withColumn(
        "cless",
        F.coalesce(F.sum(F.col("ta") + F.col("tb")).over(w), F.lit(0)),
    )
    t = F.col("ta") + F.col("tb")
    stats = cum.groupBy("event_type").agg(
        F.sum("ta").alias("n_a"),
        F.sum("tb").alias("n_b"),
        F.sum(
            F.col("ta") * (F.lit(2) * F.col("cless") + t + F.lit(1))
        ).alias("r2a"),
        F.sum(t * t * t - t).alias("tie3"),
    )
    n = (F.col("n_a") + F.col("n_b")).cast("double")
    nab = (F.col("n_a") * F.col("n_b")).cast("double")
    u2a = F.col("r2a") - F.col("n_a") * (F.col("n_a") + 1)
    # Degenerate guards, structurally safe (q_events_anova_f round-13
    # pattern): every divisor that can run degenerate sits under
    # try_divide, so NULL — not DIVIDE_BY_ZERO — falls out of n ≤ 1
    # (the tie term's n(n−1)), an empty variant (nab = 0 zeroes the
    # sqrt → outer divisor 0), and all-tied values (var_term = 0). No
    # branch ordering to get wrong; NULL output identical to the old
    # sequential CaseWhen (mirrored nullif in the oracle).
    var_term = (n + F.lit(1.0)) - F.try_divide(
        F.col("tie3").cast("double"), n * (n - F.lit(1.0))
    )
    z = F.try_divide(
        (u2a - F.col("n_a") * F.col("n_b")).cast("double"),
        F.lit(2.0) * F.sqrt(nab / F.lit(12.0) * var_term),
    )
    return stats.select(
        "event_type",
        "n_a",
        "n_b",
        u2a.alias("u2_a"),
        "tie3",
        F.round(z, 9).alias("z"),
        (z * z > F.lit(3.8415)).alias("significant"),
    )


_EVENTS_MANNWHITNEY_ORACLE = """
WITH g AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v,
         CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS ta,
         CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS tb
  FROM events GROUP BY 1, 2
), cum AS (
  SELECT *, COALESCE(sum(ta + tb) OVER (
      PARTITION BY event_type ORDER BY v
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cless
  FROM g
), stats AS (
  SELECT event_type,
         CAST(sum(ta) AS BIGINT) AS n_a,
         CAST(sum(tb) AS BIGINT) AS n_b,
         CAST(sum(ta * (2 * cless + (ta + tb) + 1)) AS BIGINT) AS r2a,
         CAST(sum((ta + tb) * (ta + tb) * (ta + tb) - (ta + tb))
              AS BIGINT) AS tie3
  FROM cum GROUP BY 1
)
SELECT event_type, n_a, n_b, u2_a, tie3,
       round(z, 9) AS z,
       z * z > 3.8415 AS significant
FROM (
  SELECT event_type, n_a, n_b,
         r2a - n_a * (n_a + 1) AS u2_a,
         tie3,
         -- structurally safe divisors (nullif ≍ Spark try_divide):
         -- n <= 1 NULLs the tie quotient, an empty variant or all-tied
         -- values zero the sqrt, and x / NULL is NULL in both engines —
         -- no CASE branch order to keep in sync with the Spark side
         CAST(r2a - n_a * (n_a + 1) - n_a * n_b AS DOUBLE)
         / nullif(2e0 * sqrt(CAST(n_a * n_b AS DOUBLE) / 12e0
             * ((CAST(n_a + n_b AS DOUBLE) + 1e0)
                - CAST(tie3 AS DOUBLE)
                  / nullif(CAST(n_a + n_b AS DOUBLE)
                     * (CAST(n_a + n_b AS DOUBLE) - 1e0), 0e0))),
           0e0) AS z
  FROM stats
)
"""


def q_user_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G9 — deterministic synchronous label propagation over the user
    co-activity graph (operators/graph.label_propagation): 6 fixed
    rounds of adopt-the-most-frequent-label-among-neighbors-and-self
    with min-label tie-break, plus a `converged` certificate both
    engines compute. Shares the memoized edge list with pagerank / PPR
    / triangles — the fourth consumer of one localCheckpointed build.
    Oracle replays the rounds as chained MATERIALIZED CTEs with an
    explicit (cnt DESC, label ASC) row_number argmax — the same
    selection the Spark max(struct(cnt, −label)) makes. On this
    generator's uniform traffic the co-activity graph is a dense
    structureless expander, so the honest fixed point is ONE giant
    community (textbook LPA-on-ER behavior); the two-clique hand-graph
    test proves the same machinery recovers real modular structure."""
    from floatchat_datapipeline_spark.operators.graph import (
        coactivity_edges,
        label_propagation,
    )

    ev = load_table(spark, sf_dir, "events")
    return label_propagation(
        coactivity_edges(ev, cache_key=sf_dir), rounds=6
    )


def _user_communities_oracle(rounds: int = 6, cap: int = 64) -> str:
    head = f"""
WITH members AS (
  SELECT DISTINCT event_type,
         epoch_us(ts) // 600000000 AS h, user_id
  FROM events
), capped AS (
  SELECT event_type, h, user_id FROM (
    SELECT *, row_number() OVER (
      PARTITION BY event_type, h ORDER BY user_id) AS rn
    FROM members)
  WHERE rn <= {cap}
), edges0 AS MATERIALIZED (
  SELECT DISTINCT a.user_id AS src, b.user_id AS dst
  FROM capped a JOIN capped b
    ON a.event_type = b.event_type AND a.h = b.h
   AND a.user_id <> b.user_id
), l0 AS MATERIALIZED (
  SELECT DISTINCT src AS node, src AS label FROM edges0
)"""
    steps = []
    for r in range(1, rounds + 1):
        steps.append(f""", c{r} AS MATERIALIZED (
  SELECT node, label, CAST(count(*) AS BIGINT) AS cnt FROM (
    SELECT e.dst AS node, l.label
    FROM edges0 e JOIN l{r - 1} l ON l.node = e.src
    UNION ALL
    SELECT node, label FROM l{r - 1}
  ) GROUP BY 1, 2
), l{r} AS MATERIALIZED (
  SELECT node, label FROM (
    SELECT node, label, row_number() OVER (
      PARTITION BY node ORDER BY cnt DESC, label ASC) AS rn
    FROM c{r})
  WHERE rn = 1
)"""
        )
    tail = f""", chg AS (
  SELECT CAST(count(*) AS BIGINT) AS c
  FROM l{rounds} a JOIN l{rounds - 1} b USING (node)
  WHERE a.label <> b.label
)
SELECT node AS user_id, CAST(label AS BIGINT) AS community,
       (SELECT c FROM chg) = 0 AS converged
FROM l{rounds}
"""
    return head + "".join(steps) + tail


_USER_COMMUNITIES_ORACLE = _user_communities_oracle()


def q_events_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS25 — rolling robust baseline over the densified hourly series:
    per (event_type, hour), the exact R-7 median of the ±12 h window
    and the window's MAD, with an anomaly flag |x − med| > 3·1.4826·mad
    (the rolling twin of the global A20 MAD outliers — a level shift
    only pollutes 25 baselines instead of the whole month). Exactness:
    the series is integer counts on a zero-filled spine; `percentile(x,
    0.5e0)` == DuckDB `quantile_cont` (both R-7, bit-identical on
    integer inputs); the flag multiplies the SAME two doubles by the
    same literal on both engines.

    Scale: the hourly rollup is the only fact shuffle; the spine is
    wall-clock-bounded, so the ±12 h self-join is a broadcast range
    probe and both percentile aggs run on a 25-row-per-anchor domain."""
    from floatchat_datapipeline_spark.functions.eventtime import (
        epoch_micros,
        long_div,
    )

    hourly = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            long_div(
                epoch_micros(F.date_trunc("hour", F.col("ts"))),
                3_600_000_000,
            ).alias("hx"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    bounds = hourly.groupBy("event_type").agg(
        F.min("hx").alias("lo"), F.max("hx").alias("hi")
    )
    spine = bounds.select(
        "event_type", F.explode(F.sequence("lo", "hi")).alias("hx")
    )
    dense = spine.join(hourly, ["event_type", "hx"], "left").select(
        "event_type", "hx", F.coalesce("n", F.lit(0)).alias("x")
    )
    dense = dense.localCheckpoint(eager=True)  # 3 consumers (two-branch rule)
    b = dense.select(
        F.col("event_type").alias("et2"),
        F.col("hx").alias("hx2"),
        F.col("x").alias("x2"),
    )
    med = (
        dense.join(
            b,
            (F.col("event_type") == F.col("et2"))
            & (F.col("hx2") >= F.col("hx") - 12)
            & (F.col("hx2") <= F.col("hx") + 12),
        )
        .groupBy("event_type", "hx", "x")
        .agg(F.expr("percentile(x2, 0.5e0)").alias("med"))
    )
    mad = (
        med.join(
            b,
            (F.col("event_type") == F.col("et2"))
            & (F.col("hx2") >= F.col("hx") - 12)
            & (F.col("hx2") <= F.col("hx") + 12),
        )
        .groupBy("event_type", "hx", "x", "med")
        .agg(F.expr("percentile(abs(x2 - med), 0.5e0)").alias("mad"))
    )
    return mad.select(
        "event_type",
        "hx",
        "x",
        "med",
        "mad",
        (
            F.abs(F.col("x") - F.col("med"))
            > F.lit(3.0) * F.lit(1.4826) * F.col("mad")
        ).alias("is_anomaly"),
    )


_EVENTS_ROLLING_MEDIAN_ORACLE = """
WITH hourly AS (
  SELECT event_type,
         epoch_us(date_trunc('hour', ts)) // 3600000000 AS hx,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
), bounds AS (
  SELECT event_type, min(hx) AS lo, max(hx) AS hi FROM hourly GROUP BY 1
), spine AS (
  SELECT event_type, unnest(range(lo, hi + 1)) AS hx FROM bounds
), dense AS MATERIALIZED (
  SELECT s.event_type, s.hx, COALESCE(h.n, 0) AS x
  FROM spine s LEFT JOIN hourly h USING (event_type, hx)
), med AS MATERIALIZED (
  SELECT a.event_type, a.hx, a.x, quantile_cont(b.x, 0.5e0) AS med
  FROM dense a JOIN dense b
    ON a.event_type = b.event_type
   AND b.hx BETWEEN a.hx - 12 AND a.hx + 12
  GROUP BY 1, 2, 3
)
SELECT m.event_type, m.hx, m.x, m.med,
       quantile_cont(abs(b.x - m.med), 0.5e0) AS mad,
       abs(m.x - m.med) > 3e0 * 1.4826e0 * quantile_cont(abs(b.x - m.med), 0.5e0)
         AS is_anomaly
FROM med m JOIN dense b
  ON m.event_type = b.event_type
 AND b.hx BETWEEN m.hx - 12 AND m.hx + 12
GROUP BY 1, 2, 3, 4
"""


def q_doc_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L29 — weighted reservoir sampling without replacement
    (Efraimidis–Spirakis 2006, the A-ES key trick): each document draws
    key = ln(u)/w with w = n_chars and u hash-uniform in (0, 1]; the
    top-100 keys ARE a weight-proportional sample — the corpus-selection
    primitive for 'sample 1M docs ∝ length' without a global shuffle.
    Determinism: u = (md5₁₅(doc_id) % 10⁶ + 1)/10⁶ is an exact rational
    of the shared cross-engine hash, ln on identical doubles is
    bit-identical (the A51/L27 rule), and one division by the integer
    weight finishes the key — TakeOrdered top-k, no window, no shuffle
    beyond the reduction. Selection ties are impossible in practice and
    broken by doc_id regardless."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("n_chars") > 0
    )
    from floatchat_datapipeline_spark.functions.textstats import md5_long

    u = (md5_long(F.col("doc_id").cast("string")) % 1_000_000 + 1).cast(
        "double"
    ) / F.lit(1_000_000.0)
    key = F.log(u) / F.col("n_chars")
    return (
        docs.select("doc_id", "source", "n_chars", key.alias("k"))
        .orderBy(F.desc("k"), "doc_id")
        .limit(100)
        .select(
            "doc_id",
            "source",
            "n_chars",
            F.round(F.col("k"), 12).alias("w_key"),
        )
    )


_DOC_WEIGHTED_SAMPLE_ORACLE = """
WITH k AS (
  SELECT doc_id, source, n_chars,
         ln(CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                       AS BIGINT) % 1000000 + 1 AS DOUBLE) / 1000000e0)
           / n_chars AS key
  FROM documents WHERE n_chars > 0
)
SELECT doc_id, source, n_chars, round(key, 12) AS w_key
FROM k
ORDER BY key DESC, doc_id
LIMIT 100
"""


def q_events_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS26 — single-changepoint detection per event_type (binary
    segmentation, first split): the hour whose left/right mean split
    maximizes the between-segment variance reduction
    gain(i) = S_i²/i + (S_N−S_i)²/(N−i) − S_N²/N over the zero-filled
    hourly count series — the level-shift locator a monitoring stack
    runs before alerting on a mean change. Prefix sums are exact
    BIGINTs from a PARTITIONED window cumsum; each candidate's gain is
    the same fixed double tree on both engines, rounded 1e-9, and the
    argmax ties break to the EARLIEST hour via max(struct(gain, −i)) —
    the events_m4/G9 determinism pattern. Output: per type, the split
    hour, both segment means (exact-integer ÷ count), and the gain.

    Scale: one fact shuffle to the hourly rollup; everything after
    lives on the wall-clock-bounded spine."""
    from pyspark.sql import Window

    from floatchat_datapipeline_spark.functions.eventtime import (
        epoch_micros,
        long_div,
    )

    hourly = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            long_div(
                epoch_micros(F.date_trunc("hour", F.col("ts"))),
                3_600_000_000,
            ).alias("hx"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    bounds = hourly.groupBy("event_type").agg(
        F.min("hx").alias("lo"), F.max("hx").alias("hi")
    )
    spine = bounds.select(
        "event_type", F.explode(F.sequence("lo", "hi")).alias("hx")
    )
    dense = spine.join(hourly, ["event_type", "hx"], "left").select(
        "event_type", "hx", F.coalesce("n", F.lit(0)).alias("x")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hx")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    pre = dense.select(
        "event_type",
        "hx",
        F.sum("x").over(w).alias("s"),
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("hx"))
        .alias("i"),
    )
    tot = pre.groupBy("event_type").agg(
        F.max("s").alias("sn"), F.max("i").alias("nn")
    )
    cand = pre.join(tot, "event_type").filter(F.col("i") < F.col("nn"))
    gain = F.round(
        (F.col("s") * F.col("s")).cast("double") / F.col("i")
        + (
            (F.col("sn") - F.col("s")) * (F.col("sn") - F.col("s"))
        ).cast("double")
        / (F.col("nn") - F.col("i"))
        - (F.col("sn") * F.col("sn")).cast("double") / F.col("nn"),
        9,
    )
    best = (
        cand.select(
            "event_type",
            F.struct(
                gain.alias("g"),
                (-F.col("i")).alias("ni"),
                F.col("hx").alias("hx"),
                F.col("s").alias("s"),
                F.col("i").alias("i"),
                F.col("sn").alias("sn"),
                F.col("nn").alias("nn"),
            ).alias("c"),
        )
        .groupBy("event_type")
        .agg(F.max("c").alias("b"))
    )
    return best.select(
        "event_type",
        F.col("b.hx").alias("split_hx"),
        F.col("b.g").alias("gain"),
        (F.col("b.s").cast("double") / F.col("b.i")).alias("left_mean"),
        (
            (F.col("b.sn") - F.col("b.s")).cast("double")
            / (F.col("b.nn") - F.col("b.i"))
        ).alias("right_mean"),
    )


_EVENTS_CHANGEPOINT_ORACLE = """
WITH hourly AS (
  SELECT event_type,
         epoch_us(date_trunc('hour', ts)) // 3600000000 AS hx,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
), bounds AS (
  SELECT event_type, min(hx) AS lo, max(hx) AS hi FROM hourly GROUP BY 1
), spine AS (
  SELECT event_type, unnest(range(lo, hi + 1)) AS hx FROM bounds
), dense AS (
  SELECT s.event_type, s.hx, COALESCE(h.n, 0) AS x
  FROM spine s LEFT JOIN hourly h USING (event_type, hx)
), pre AS (
  SELECT event_type, hx,
         CAST(sum(x) OVER (PARTITION BY event_type ORDER BY hx
           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS s,
         CAST(row_number() OVER (PARTITION BY event_type ORDER BY hx)
           AS BIGINT) AS i
  FROM dense
), tot AS (
  SELECT event_type, max(s) AS sn, max(i) AS nn FROM pre GROUP BY 1
), cand AS (
  SELECT p.event_type, p.hx, p.s, p.i, t.sn, t.nn,
         round(CAST(p.s * p.s AS DOUBLE) / p.i
               + CAST((t.sn - p.s) * (t.sn - p.s) AS DOUBLE)
                 / (t.nn - p.i)
               - CAST(t.sn * t.sn AS DOUBLE) / t.nn, 9) AS g
  FROM pre p JOIN tot t USING (event_type)
  WHERE p.i < t.nn
), best AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
      PARTITION BY event_type ORDER BY g DESC, i ASC) AS rn
    FROM cand)
  WHERE rn = 1
)
SELECT event_type, hx AS split_hx, g AS gain,
       CAST(s AS DOUBLE) / i AS left_mean,
       CAST(sn - s AS DOUBLE) / (nn - i) AS right_mean
FROM best
"""


def q_emb_prefix_dim_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V16 — prefix-dimension retrieval audit (the Matryoshka / MRL
    question: how much recall does searching on the first 16 of 64
    dims keep?): exact quantized-L2 top-10 on the 16-dim prefix vs the
    64-dim exact top-10 for the stored query vec_id=0, reporting
    recall@10 and a certified bool — the V15 certificate pattern
    pointed at dimension truncation instead of random projection. Both
    legs are exact integer math (1e4-quantized coordinates, BIGINT
    squared-L2), so the overlap is deterministic.

    At 100 TB the prefix leg is the production scan (4× less IO and
    FLOPs); this audit is the job that decides whether that truncation
    is safe. On THIS corpus the verdict is honestly NEGATIVE
    (recall 0–0.1, certified=false at every SF): the synthetic
    embeddings are isotropic random vectors with no Matryoshka-style
    information concentration, so naive truncation destroys the
    neighborhood — exactly the unsafe deployment the audit exists to
    block, and the discriminating contrast to V15 (32-projection RP on
    the same corpus certifies at recall ≥ 0.8)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q64 = F.expr(
        "transform(embedding, x -> "
        "cast(round(cast(x as double) * 10000) as bigint))"
    )
    base = emb.select("vec_id", q64.alias("q")).localCheckpoint(
        eager=True
    )  # two legs + two broadcast query rows: one quantization pass
    qrow = base.filter(F.col("vec_id") == 0).select(F.col("q").alias("qq"))

    def topk(expr: str) -> DataFrame:
        return (
            base.filter(F.col("vec_id") != 0)
            .crossJoin(F.broadcast(qrow))
            .select("vec_id", F.expr(expr).alias("d"))
            .orderBy("d", "vec_id")
            .limit(10)
            .select("vec_id")
        )

    full = topk(
        "aggregate(zip_with(q, qq, (a, b) -> (a-b)*(a-b)), 0L,"
        " (acc, x) -> acc + x)"
    )
    prefix = topk(
        "aggregate(zip_with(slice(q, 1, 16), slice(qq, 1, 16),"
        " (a, b) -> (a-b)*(a-b)), 0L, (acc, x) -> acc + x)"
    )
    return prefix.join(full, "vec_id").agg(
        F.lit(10).cast("long").alias("k"),
        F.lit(16).cast("long").alias("prefix_dims"),
        F.count(F.lit(1)).alias("n_hits"),
        (F.count(F.lit(1)).cast("double") / 10).alias("recall"),
        (F.count(F.lit(1)) >= 5).alias("certified"),
    )


_EMB_PREFIX_DIM_AUDIT_ORACLE = """
WITH base AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS q
  FROM embeddings
), qv AS (
  SELECT q AS qq FROM base WHERE vec_id = 0
), fullk AS (
  SELECT vec_id FROM (
    SELECT vec_id,
           CAST(list_sum(list_transform(
             list_zip(q, (SELECT qq FROM qv)),
             s -> (s[1] - s[2]) * (s[1] - s[2]))) AS BIGINT) AS d
    FROM base WHERE vec_id <> 0)
  ORDER BY d, vec_id LIMIT 10
), prefixk AS (
  SELECT vec_id FROM (
    SELECT vec_id,
           CAST(list_sum(list_transform(
             list_zip(q[1:16], (SELECT qq[1:16] FROM qv)),
             s -> (s[1] - s[2]) * (s[1] - s[2]))) AS BIGINT) AS d
    FROM base WHERE vec_id <> 0)
  ORDER BY d, vec_id LIMIT 10
)
SELECT CAST(10 AS BIGINT) AS k,
       CAST(16 AS BIGINT) AS prefix_dims,
       CAST(count(*) AS BIGINT) AS n_hits,
       CAST(count(*) AS DOUBLE) / 10 AS recall,
       count(*) >= 5 AS certified
FROM prefixk JOIN fullk USING (vec_id)
"""


def q_corpus_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L30 — the per-source corpus datasheet ('datasheets for datasets',
    Gebru et al. 2021 §3.2 composition): the one-table summary a corpus
    release ships — doc/char/token volumes, language breadth, exact R-7
    length quantiles, and the short-doc fraction that drives quality
    filtering budgets. Complements the D11/L28 dedup audit (which owns
    duplication stats) — together they are the release manifest.

    Exactness: counts and char/token sums are BIGINTs; p50/p90 are
    `percentile(_, qe0)` == `quantile_cont` on integer inputs (R-7,
    bit-identical); short_frac is one division of two exact BIGINTs.
    One partial-aggregable rollup over documents — map-side combine,
    no second scan."""
    from floatchat_datapipeline_spark.functions.textstats import (
        token_count,
    )

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum(token_count("text")).alias("total_tokens"),
            F.countDistinct("lang").alias("n_langs"),
            F.expr("percentile(n_chars, 0.5e0)").alias("p50_chars"),
            F.expr("percentile(n_chars, 0.9e0)").alias("p90_chars"),
            F.sum(
                F.when(F.col("n_chars") < 200, F.lit(1)).otherwise(F.lit(0))
            ).alias("n_short"),
        )
        .select(
            "source",
            "n_docs",
            "total_chars",
            "total_tokens",
            "n_langs",
            "p50_chars",
            "p90_chars",
            (F.col("n_short").cast("double") / F.col("n_docs")).alias(
                "short_frac"
            ),
        )
    )


_CORPUS_DATASHEET_ORACLE = """
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(sum(length(text) - length(replace(text, ' ', '')) + 1)
            AS BIGINT) AS total_tokens,
       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       quantile_cont(n_chars, 0.5e0) AS p50_chars,
       quantile_cont(n_chars, 0.9e0) AS p90_chars,
       CAST(sum(CASE WHEN n_chars < 200 THEN 1 ELSE 0 END) AS DOUBLE)
         / count(*) AS short_frac
FROM documents
GROUP BY source
"""


def q_events_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K14 — Debezium-style CDC log apply: reconstruct final table
    state from an ordered change log (op ∈ I/U/D, per-key sequence)
    with LATEST-OP-WINS and delete tombstones — the lakehouse MERGE
    contract (Delta CDF / Iceberg changelog consumers), generalizing
    the K1 latest-per-key dedupe with explicit update payloads and
    deletes. The log is synthesized deterministically from events
    (every id INSERTs at seq 1; ids %3 UPDATE at seq 2; ids %7 DELETE
    at seq 3); apply = one partial-aggregable max(struct(seq, …)) per
    key — no window, no sort — then tombstone keys fold into a
    '__tombstone__' bucket of the rollup so the delete path is
    hash-visible.

    Scale: the apply is a single hash aggregation on the key — the
    shape that absorbs billion-row CDC feeds; payloads ride inside the
    struct, exact cents only."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    ins = ev.select(
        "event_id",
        F.lit(1).alias("seq"),
        F.lit("I").alias("op"),
        "event_type",
        "cents",
    )
    upd = ev.filter(F.col("event_id") % 3 == 0).select(
        "event_id",
        F.lit(2).alias("seq"),
        F.lit("U").alias("op"),
        F.lit("updated").alias("event_type"),
        (F.col("cents") + 100).alias("cents"),
    )
    dele = ev.filter(F.col("event_id") % 7 == 0).select(
        "event_id",
        F.lit(3).alias("seq"),
        F.lit("D").alias("op"),
        F.lit("").alias("event_type"),
        F.lit(0).cast("long").alias("cents"),
    )
    log = ins.unionByName(upd).unionByName(dele)
    latest = log.groupBy("event_id").agg(
        F.max(
            F.struct(
                F.col("seq"), F.col("op"), F.col("event_type"), F.col("cents")
            )
        ).alias("s")
    )
    return (
        latest.select(
            "event_id",
            F.when(F.col("s.op") == "D", F.lit("__tombstone__"))
            .otherwise(F.col("s.event_type"))
            .alias("final_type"),
            F.when(F.col("s.op") == "D", F.lit(0))
            .otherwise(F.col("s.cents"))
            .alias("cents"),
        )
        .groupBy("final_type")
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("cents").alias("cents"),
            F.sum("event_id").alias("id_sum"),
            F.min("event_id").alias("min_id"),
            F.max("event_id").alias("max_id"),
        )
    )


_EVENTS_CDC_APPLY_ORACLE = """
WITH ev AS (
  SELECT event_id, event_type,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
), log AS (
  SELECT event_id, 1 AS seq, 'I' AS op, event_type, cents FROM ev
  UNION ALL
  SELECT event_id, 2, 'U', 'updated', cents + 100
  FROM ev WHERE event_id % 3 = 0
  UNION ALL
  SELECT event_id, 3, 'D', '', CAST(0 AS BIGINT)
  FROM ev WHERE event_id % 7 = 0
), latest AS (
  SELECT event_id, op, event_type, cents FROM (
    SELECT *, row_number() OVER (
      PARTITION BY event_id ORDER BY seq DESC) AS rn
    FROM log)
  WHERE rn = 1
), finals AS (
  SELECT event_id,
         CASE WHEN op = 'D' THEN '__tombstone__'
              ELSE event_type END AS final_type,
         CASE WHEN op = 'D' THEN 0 ELSE cents END AS cents
  FROM latest
)
SELECT final_type,
       CAST(count(*) AS BIGINT) AS n_keys,
       CAST(sum(cents) AS BIGINT) AS cents,
       CAST(sum(event_id) AS BIGINT) AS id_sum,
       min(event_id) AS min_id,
       max(event_id) AS max_id
FROM finals
GROUP BY 1
"""


def _stage_events_csv(
    spark: SparkSession,
    sf_dir: str,
    path: str,
    mod: int,
    n_files: int,
) -> None:
    """TEST-HARNESS fixture staging for the S12/S13 DataSource gates:
    export the event_id%mod slice to one CSV per event_id%n_files
    "float" with csv.writer — Python str(float) is repr, so doubles
    round-trip exactly. In deployment the files arrive via the
    scrape/staging cache (sources/staging.py) and this collect does not
    exist; the measured operator is the scan."""
    import csv
    import shutil

    if os.path.exists(path):
        shutil.rmtree(path)
    os.makedirs(path)
    rows = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") % mod == 0)
        .select("event_id", "user_id", "event_type", "value")
        .collect()
    )
    buckets: dict[int, list] = {}
    for r in rows:
        buckets.setdefault(r.event_id % n_files, []).append(r)
    for b, rs in buckets.items():
        with open(
            os.path.join(path, f"float_{b}.csv"), "w", newline=""
        ) as fh:
            w = csv.writer(fh)
            w.writerow(["event_id", "user_id", "event_type", "value"])
            for r in sorted(rs, key=lambda x: x.event_id):
                w.writerow(
                    [
                        "" if v is None else v
                        for v in (
                            r.event_id,
                            r.user_id,
                            r.event_type,
                            r.value,
                        )
                    ]
                )


_EVENTS_CSV_DDL = (
    "event_id bigint, user_id bigint, event_type string, value double"
)


def q_erddap_staged_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S12 — the Spark-4 Python DataSource batch path under the value
    gate: rows flow through `spark.read.format("erddap_staged")`
    (sources/pyds.py — one InputPartition per staged CSV file, the
    reference's per-float download unit, ingest/load_data.py:49-103) and
    the rollup of what the custom source YIELDED hash-matches a DuckDB
    rollup over the same parquet rows. This is the source-side analog of
    events_upsert_replay's sink gate: the format's schema contract,
    partition planning, and per-partition typed decode are all on the
    hash path.

    Harness staging (TEST-ONLY driver step, not the operator): the
    event_id%13 slice is exported to one CSV per event_id%8 "float" with
    csv.writer — Python str(float) is repr, so doubles round-trip
    exactly. In deployment the files arrive via the scrape/staging cache
    (sources/staging.py) and this collect does not exist; the measured
    operator is the parallel scan, which reads N files as N tasks with
    no driver loop.

    Scale: partition-per-file parallel decode; the rollup is one
    partial-aggregable hash agg. Exact integer outputs only (floor-cents
    fold for the double column)."""
    from floatchat_datapipeline_spark.sinks.bucketed import _layout_tag
    from floatchat_datapipeline_spark.sources.pyds import (
        ErddapStagedDataSource,
    )

    warehouse = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).removeprefix("file:")
    path = os.path.join(
        warehouse, f"erddap_staged_{_layout_tag(sf_dir)}"
    )
    _stage_events_csv(spark, sf_dir, path, mod=13, n_files=8)
    spark.dataSource.register(ErddapStagedDataSource)
    staged = (
        spark.read.format("erddap_staged")
        .option("path", path)
        .option("ddl", _EVENTS_CSV_DDL)
        .load()
    )
    return staged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum(F.expr("CAST(floor(value * 100) AS BIGINT)")).alias("cents"),
        F.sum("event_id").alias("id_sum"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
    )


_ERDDAP_STAGED_SCAN_ORACLE = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents,
       CAST(sum(event_id) AS BIGINT) AS id_sum,
       min(event_id) AS min_id,
       max(event_id) AS max_id
FROM events
WHERE event_id % 13 = 0
GROUP BY event_type
"""


def q_parts_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S17 — additive parquet schema evolution under the value gate:
    three generations of the part table land with WIDENING schemas
    (gen 0: key+type; gen 1: +p_size; gen 2: +retail_cents) via
    sources/evolution.append_evolved, and the mergeSchema union read
    (read_evolving) must surface NULLs exactly where a part predates a
    column. The rollup groups by generation (p_partkey%3), so the
    NULL-fill pattern is hash-visible: gen 0 must show n_size = 0 and
    n_cents = 0, gen 1 only n_cents = 0. The reference migrates schemas
    by hand (ingest/schema.sql fixed DDL + backfill); this is the
    lakehouse additive-evolution contract instead.

    Scale: mergeSchema's footer union is the documented
    bootstrap/recovery path — steady state pins the evolved schema
    (evolved_schema → read_pinned) and skips footer discovery. The
    rollup itself is one partial-aggregable hash agg; exact integers
    only."""
    import shutil

    from floatchat_datapipeline_spark.sinks.bucketed import _layout_tag
    from floatchat_datapipeline_spark.sources.evolution import (
        append_evolved,
        read_evolving,
    )

    warehouse = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).removeprefix("file:")
    path = os.path.join(
        warehouse, f"parts_evolving_{_layout_tag(sf_dir)}"
    )
    if os.path.exists(path):
        shutil.rmtree(path)
    part = load_table(spark, sf_dir, "part")
    pk = F.col("p_partkey")
    append_evolved(
        part.filter(pk % 3 == 0).select("p_partkey", "p_type"), path
    )
    append_evolved(
        part.filter(pk % 3 == 1).select("p_partkey", "p_type", "p_size"),
        path,
    )
    append_evolved(
        part.filter(pk % 3 == 2).select(
            "p_partkey",
            "p_type",
            "p_size",
            F.round(F.col("p_retailprice") * 100)
            .cast("long")
            .alias("retail_cents"),
        ),
        path,
    )
    ev = read_evolving(spark, path)
    return ev.groupBy((pk % 3).alias("gen")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("p_size").alias("n_size"),
        F.count("retail_cents").alias("n_cents"),
        F.sum(F.coalesce(F.col("p_size"), F.lit(0)).cast("long")).alias(
            "size_sum"
        ),
        F.sum(F.coalesce(F.col("retail_cents"), F.lit(0))).alias(
            "cents_sum"
        ),
        F.sum("p_partkey").alias("key_sum"),
        F.countDistinct("p_type").alias("n_types"),
    )


_PARTS_SCHEMA_EVOLUTION_ORACLE = """
WITH g0 AS (
  SELECT p_partkey, p_type,
         CAST(NULL AS INTEGER) AS p_size,
         CAST(NULL AS BIGINT) AS retail_cents
  FROM part WHERE p_partkey % 3 = 0
), g1 AS (
  SELECT p_partkey, p_type, p_size, CAST(NULL AS BIGINT)
  FROM part WHERE p_partkey % 3 = 1
), g2 AS (
  SELECT p_partkey, p_type, p_size,
         CAST(round(p_retailprice * 100) AS BIGINT)
  FROM part WHERE p_partkey % 3 = 2
), u AS (
  SELECT * FROM g0 UNION ALL SELECT * FROM g1 UNION ALL SELECT * FROM g2
)
SELECT CAST(p_partkey % 3 AS BIGINT) AS gen,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(p_size) AS BIGINT) AS n_size,
       CAST(count(retail_cents) AS BIGINT) AS n_cents,
       CAST(sum(coalesce(p_size, 0)) AS BIGINT) AS size_sum,
       CAST(sum(coalesce(retail_cents, 0)) AS BIGINT) AS cents_sum,
       CAST(sum(p_partkey) AS BIGINT) AS key_sum,
       CAST(count(DISTINCT p_type) AS BIGINT) AS n_types
FROM u
GROUP BY 1
"""


def q_events_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS27 — Mann-Kendall nonparametric trend test per event type over
    the daily-cents series: S = Σ_{i<j} sign(x_j − x_i), tie-corrected
    variance (×18 to stay integral), and the two-sided z-test at
    α = 0.05 decided by CROSS-MULTIPLICATION so every compared quantity
    is an exact BIGINT: significant ⇔ S ≠ 0 and
    180000·(|S|−1)² > 38416·Var18 (1.96² = 38416/10000; Var = Var18/18;
    the −1 is the standard continuity correction). The companion to
    TS14 Holt / A32 Theil-Sen: those estimate the trend, this one tests
    its existence without distributional assumptions.

    Scale: the O(n²) pair pass runs on the DAILY rollup — the spine
    grows with time, not event volume (the rolling-median argument), so
    the theta self-join is bounded; the rollup itself is one
    partial-aggregable hash agg over the fact table. The daily frame is
    localCheckpointed once and feeds all three branches (pairs, ties,
    counts) — the two-branch rule."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        epoch_seconds(F.col("ts")).alias("es"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    daily = (
        ev.groupBy("event_type", F.expr("es div 86400").alias("day"))
        .agg(F.sum("cents").alias("x"))
        .localCheckpoint(eager=True)
    )
    return _mann_kendall_report(daily)


def _mann_kendall_report(daily: DataFrame) -> DataFrame:
    """Mann-Kendall core over a (event_type, day, x) series frame —
    factored so property tests can feed synthetic trending/flat series
    (tests/test_round10_ops.py) the way the changepoint/LPA cores are
    brute-force-tested. All-integer; see q_events_mann_kendall."""
    a, b = daily.alias("a"), daily.alias("b")
    s = (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.day") < F.col("b.day")),
        )
        .groupBy(F.col("a.event_type").alias("event_type"))
        .agg(
            F.sum(
                F.when(F.col("b.x") > F.col("a.x"), 1)
                .when(F.col("b.x") < F.col("a.x"), -1)
                .otherwise(0)
            )
            .cast("long")
            .alias("s_stat")
        )
    )
    tie = (
        daily.groupBy("event_type", "x")
        .agg(F.count(F.lit(1)).alias("t"))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            ).alias("tie_term")
        )
    )
    nn = daily.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_days"))
    out = (
        nn.join(s, "event_type", "left")
        .join(tie, "event_type", "left")
        .select(
            "event_type",
            "n_days",
            F.coalesce("s_stat", F.lit(0)).alias("s_stat"),
            (
                F.col("n_days")
                * (F.col("n_days") - 1)
                * (2 * F.col("n_days") + 5)
                - F.coalesce("tie_term", F.lit(0))
            ).alias("var18"),
        )
    )
    sa = F.abs(F.col("s_stat"))
    return out.select(
        "event_type",
        "n_days",
        "s_stat",
        "var18",
        F.when(F.col("s_stat") > 0, F.lit("up"))
        .when(F.col("s_stat") < 0, F.lit("down"))
        .otherwise(F.lit("flat"))
        .alias("direction"),
        (
            (F.col("s_stat") != 0)
            & (
                F.lit(180000) * (sa - 1) * (sa - 1)
                > F.lit(38416) * F.col("var18")
            )
        ).alias("significant"),
    )


_EVENTS_MANN_KENDALL_ORACLE = """
WITH ev AS (
  SELECT event_type, epoch_us(ts) // 1000000 AS es,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
), daily AS (
  SELECT event_type, es // 86400 AS day,
         CAST(sum(cents) AS BIGINT) AS x
  FROM ev GROUP BY 1, 2
), pairs AS (
  SELECT a.event_type,
         CASE WHEN b.x > a.x THEN 1
              WHEN b.x < a.x THEN -1 ELSE 0 END AS sg
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND a.day < b.day
), s AS (
  SELECT event_type, CAST(sum(sg) AS BIGINT) AS s_stat
  FROM pairs GROUP BY 1
), tie AS (
  SELECT event_type,
         CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
  FROM (
    SELECT event_type, x, count(*) AS t FROM daily GROUP BY 1, 2
  ) GROUP BY 1
), nn AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days
  FROM daily GROUP BY 1
), o AS (
  SELECT nn.event_type, n_days,
         CAST(coalesce(s_stat, 0) AS BIGINT) AS s_stat,
         CAST(n_days * (n_days - 1) * (2 * n_days + 5)
              - coalesce(tie_term, 0) AS BIGINT) AS var18
  FROM nn LEFT JOIN s USING (event_type)
          LEFT JOIN tie USING (event_type)
)
SELECT event_type, n_days, s_stat, var18,
       CASE WHEN s_stat > 0 THEN 'up'
            WHEN s_stat < 0 THEN 'down' ELSE 'flat' END AS direction,
       (s_stat <> 0 AND
        180000 * (abs(s_stat) - 1) * (abs(s_stat) - 1)
          > 38416 * var18) AS significant
FROM o
"""


def q_nation_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A56 — Herfindahl–Hirschman market-concentration index: per
    nation, how concentrated revenue is across its suppliers. Shares
    quantize to exact ppm BIGINTs FIRST (u·10⁶ div total — truncating
    div on both engines), then HHI = Σ ppm², so the index is exact
    integer end-to-end (squaring the raw e-4-dollar units would
    overflow BIGINT; quantized shares cap the square at 10¹²). The
    complement to A37 Gini (inequality) and A52 whale share (top-k
    mass): HHI is the antitrust-standard concentration scalar.

    Scale: one partial-aggregable fact rollup to (nation, supplier)
    grain with broadcast dims; nation totals via a window over the
    ROLLUP (25-nation × supplier grain — never a fact self-join), then
    one hash agg to nation grain."""
    from pyspark.sql import Window

    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    units = (
        F.round(F.col("l_extendedprice") * 100).cast("long")
        * (100 - F.round(F.col("l_discount") * 100).cast("long"))
    ).alias("u")
    per_sup = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_suppkey", units)
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            F.broadcast(nation),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name", "l_suppkey")
        .agg(F.sum("u").alias("u"))
    )
    total = F.sum("u").over(Window.partitionBy("n_name"))
    shares = per_sup.select(
        "n_name", F.expr("u * 1000000").alias("u6"), total.alias("tot")
    ).select("n_name", F.expr("u6 div tot").alias("ppm"))
    return shares.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum(F.col("ppm") * F.col("ppm")).alias("hhi_ppm2"),
        F.max("ppm").alias("top_share_ppm"),
    )


_NATION_HHI_ORACLE = """
WITH per_sup AS (
  SELECT n_name, l_suppkey,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                  * (100 - CAST(round(l_discount * 100) AS BIGINT)))
              AS BIGINT) AS u
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  GROUP BY 1, 2
), shares AS (
  SELECT n_name,
         (u * 1000000) // CAST(sum(u) OVER (PARTITION BY n_name) AS BIGINT)
           AS ppm
  FROM per_sup
)
SELECT n_name,
       CAST(count(*) AS BIGINT) AS n_suppliers,
       CAST(sum(ppm * ppm) AS BIGINT) AS hhi_ppm2,
       CAST(max(ppm) AS BIGINT) AS top_share_ppm
FROM shares GROUP BY 1
"""


def q_vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L31 — out-of-vocabulary rate curve over the word-BIGRAM
    vocabulary (the merge-candidate units of L17's BPE step): for vocab
    sizes k ∈ {64, 256, 1024}, the fraction of bigram OCCURRENCES not
    covered by the top-k vocabulary (count DESC, unit ASC — fully
    deterministic truncation). The tokenizer-design feedback loop every
    training pipeline runs before freezing a vocab; the curve
    quantifies the coverage/size trade. Bigrams rather than unigrams
    because the synthetic corpus has only ~31 distinct words — the
    unigram curve is saturated at every k (the same vacuousness rule
    that sized capped_sessions/SNM: a gate must BIND at sf0.001-0.1);
    the ~900-bigram vocabulary makes k = 64/256 bind and k = 1024 show
    honest saturation. Counts are exact BIGINTs; the rate is ONE IEEE
    division of two exact integers.

    Scale: one corpus-wide bigram hash agg (map-side generated by a
    codegen'd zip_with, the word_shingles shape), localCheckpointed
    once because four branches consume it (three top-k probes + the
    total); each top-k is TakeOrderedAndProject — driver cost O(k),
    never a global sort."""
    from floatchat_datapipeline_spark.functions.textstats import tokens

    docs = load_table(spark, sf_dir, "documents")
    arr = tokens("text")
    bigrams = F.when(F.size(arr) < 2, F.array()).otherwise(
        F.zip_with(
            F.slice(arr, 1, F.size(arr) - 1),
            F.slice(arr, 2, F.size(arr) - 1),
            lambda x, y: F.concat(x, F.lit(" "), y),
        )
    )
    cnt = (
        docs.select(F.explode(bigrams).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    total = cnt.agg(F.sum("c").alias("total"))
    legs = []
    for k in (64, 256, 1024):
        legs.append(
            cnt.orderBy(F.desc("c"), "token")
            .limit(k)
            .agg(
                F.lit(k).cast("long").alias("vocab_k"),
                F.count(F.lit(1)).alias("vocab_tokens"),
                F.sum("c").alias("in_occ"),
            )
        )
    cur = legs[0]
    for leg in legs[1:]:
        cur = cur.unionByName(leg)
    return cur.crossJoin(F.broadcast(total)).select(
        "vocab_k",
        "vocab_tokens",
        "in_occ",
        (F.col("total") - F.col("in_occ")).alias("oov_occ"),
        "total",
        (
            (F.col("total") - F.col("in_occ")).cast("double")
            / F.col("total")
        ).alias("oov_rate"),
    )


_VOCAB_OOV_RATE_ORACLE = """
WITH docs AS (
  SELECT string_split(text, ' ') AS t FROM documents
), tok AS (
  SELECT t[i.x] || ' ' || t[i.x + 1] AS token
  FROM docs, unnest(range(1, len(t))) AS i(x)
), cnt AS (
  SELECT token, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1
), rk AS (
  SELECT token, c,
         row_number() OVER (ORDER BY c DESC, token) AS r
  FROM cnt
), tot AS (
  SELECT CAST(sum(c) AS BIGINT) AS total FROM cnt
), ks AS (
  SELECT unnest([64, 256, 1024]) AS vocab_k
), sel AS (
  SELECT vocab_k,
         CAST(count(*) FILTER (WHERE r <= vocab_k) AS BIGINT)
           AS vocab_tokens,
         CAST(coalesce(sum(c) FILTER (WHERE r <= vocab_k), 0) AS BIGINT)
           AS in_occ
  FROM ks CROSS JOIN rk GROUP BY 1
)
SELECT CAST(vocab_k AS BIGINT) AS vocab_k, vocab_tokens, in_occ,
       total - in_occ AS oov_occ, total,
       CAST(total - in_occ AS DOUBLE) / total AS oov_rate
FROM sel CROSS JOIN tot
"""


def q_events_version_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K15 — time-travel snapshot diff through the versioned sink
    (sinks/versioned.py): write snapshot v1 (the even-event_id slice),
    then v2 with deterministic churn (drop %10 keys, bump %6 cents by
    100, add the odd %9 keys), then read BOTH versions back via
    `read_version` and classify every key added / removed / changed /
    unchanged with one full-outer join. The reference's stores
    overwrite in place (delete-then-add, ON CONFLICT DO UPDATE) and
    lose history; this is the Delta/Iceberg `versionAsOf` contract on
    vanilla parquet, and the diff is the audit query every pipeline
    runs after a suspect sync. State dir is cleared first, so the query
    is idempotent and hash-stable.

    Scale: a snapshot write never rewrites history (one parquet write);
    the time-travel read is metadata (pick a directory); the diff is
    ONE key-partitioned full-outer join + a hash rollup. Exact cents
    only."""
    import shutil

    from floatchat_datapipeline_spark.sinks.bucketed import _layout_tag
    from floatchat_datapipeline_spark.sinks.versioned import (
        read_version,
        write_version,
    )

    warehouse = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).removeprefix("file:")
    path = os.path.join(warehouse, f"events_versions_{_layout_tag(sf_dir)}")
    if os.path.exists(path):
        shutil.rmtree(path)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    v1 = ev.filter(F.col("event_id") % 2 == 0)
    write_version(v1, path)
    v2 = (
        v1.filter(F.col("event_id") % 10 != 0)
        .select(
            "event_id",
            F.when(F.col("event_id") % 6 == 0, F.lit("bumped"))
            .otherwise(F.col("event_type"))
            .alias("event_type"),
            F.when(
                F.col("event_id") % 6 == 0, F.col("cents") + 100
            )
            .otherwise(F.col("cents"))
            .alias("cents"),
        )
        .unionByName(
            ev.filter(
                (F.col("event_id") % 2 == 1) & (F.col("event_id") % 9 == 0)
            )
        )
    )
    write_version(v2, path)
    old = read_version(spark, path, 1).alias("o")
    new = read_version(spark, path, 2).alias("n")
    joined = old.join(new, F.col("o.event_id") == F.col("n.event_id"), "full_outer")
    klass = (
        F.when(F.col("o.event_id").isNull(), F.lit("added"))
        .when(F.col("n.event_id").isNull(), F.lit("removed"))
        .when(
            (F.col("o.cents") != F.col("n.cents"))
            | (F.col("o.event_type") != F.col("n.event_type")),
            F.lit("changed"),
        )
        .otherwise(F.lit("unchanged"))
    )
    return (
        joined.select(
            klass.alias("change"),
            F.coalesce(F.col("o.event_id"), F.col("n.event_id")).alias(
                "event_id"
            ),
            F.coalesce(F.col("o.cents"), F.lit(0)).alias("old_cents"),
            F.coalesce(F.col("n.cents"), F.lit(0)).alias("new_cents"),
        )
        .groupBy("change")
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("old_cents").alias("old_cents"),
            F.sum("new_cents").alias("new_cents"),
            F.sum("event_id").alias("id_sum"),
        )
    )


_EVENTS_VERSION_DIFF_ORACLE = """
WITH ev AS (
  SELECT event_id, event_type,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
), v1 AS (
  SELECT * FROM ev WHERE event_id % 2 = 0
), v2 AS (
  SELECT event_id,
         CASE WHEN event_id % 6 = 0 THEN 'bumped' ELSE event_type END
           AS event_type,
         CASE WHEN event_id % 6 = 0 THEN cents + 100 ELSE cents END
           AS cents
  FROM v1 WHERE event_id % 10 <> 0
  UNION ALL
  SELECT event_id, event_type, cents
  FROM ev WHERE event_id % 2 = 1 AND event_id % 9 = 0
), d AS (
  SELECT CASE WHEN o.event_id IS NULL THEN 'added'
              WHEN n.event_id IS NULL THEN 'removed'
              WHEN o.cents <> n.cents
                OR o.event_type <> n.event_type THEN 'changed'
              ELSE 'unchanged' END AS change,
         coalesce(o.event_id, n.event_id) AS event_id,
         coalesce(o.cents, 0) AS old_cents,
         coalesce(n.cents, 0) AS new_cents
  FROM v1 o FULL OUTER JOIN v2 n ON o.event_id = n.event_id
)
SELECT change,
       CAST(count(*) AS BIGINT) AS n_keys,
       CAST(sum(old_cents) AS BIGINT) AS old_cents,
       CAST(sum(new_cents) AS BIGINT) AS new_cents,
       CAST(sum(event_id) AS BIGINT) AS id_sum
FROM d GROUP BY 1
"""


def q_events_blocking_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D13 — blocking-scheme quality audit, the evaluation loop of
    every record-linkage/dedup blocker (the metric pair behind the D9
    SNM and LSH band choices): against ground-truth matches = event
    pairs sharing (user_id, event_type), how does blocking on
    (event_type, day) trade candidate volume for recall?

      pair_completeness = caught_pairs / gt_pairs      (recall)
      reduction_ratio   = 1 − candidate_pairs / all_pairs

    ALL pair counts come from group sizes — Σ C(g,2) per group — so
    nothing ever materializes a pair: three partial-aggregable hash
    aggs (per (user,type), per (type,day), per (user,type,day)) and
    C(N,2) for the denominator. Exact BIGINTs; each ratio is ONE IEEE
    division.

    Scale: this is the shape that audits a billion-row blocker — group
    sizes, never pairs; skew-safe because C(g,2) is computed inside
    the aggregation, not by exploding candidates."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        epoch_seconds(F.col("ts")).alias("es"),
    ).select(
        "user_id", "event_type", F.expr("es div 86400").alias("day")
    )

    def pairs2(c: str):
        # Σ C(g,2) from group sizes; g(g-1) is even so the halving is
        # exact — integer div, never a double quotient (2^53 cliff).
        return F.expr(f"sum({c} * ({c} - 1)) div 2")
    gt = (
        ev.groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("g"))
        .groupBy("event_type")
        .agg(pairs2("g").alias("gt_pairs"))
    )
    cand = (
        ev.groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("b"))
        .groupBy("event_type")
        .agg(
            pairs2("b").alias("candidate_pairs"),
            F.sum("b").alias("n_rows"),
        )
    )
    caught = (
        ev.groupBy("user_id", "event_type", "day")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("event_type")
        .agg(pairs2("c").alias("caught_pairs"))
    )
    out = gt.join(cand, "event_type").join(caught, "event_type")
    all_pairs = F.expr("n_rows * (n_rows - 1) div 2")
    # Degenerate guards (lazy CaseWhen, q_events_anova_f pattern): with
    # no ground-truth pairs (every (user, type) group is a singleton)
    # recall is undefined, and with a single row there are no pairs to
    # reduce — NULL the ratios instead of aborting under ANSI mode.
    # Mirrored CASEs in the oracle.
    return out.select(
        "event_type",
        "n_rows",
        "gt_pairs",
        "candidate_pairs",
        "caught_pairs",
        F.when(
            F.col("gt_pairs") != F.lit(0),
            F.col("caught_pairs").cast("double") / F.col("gt_pairs"),
        ).alias("pair_completeness"),
        F.when(
            all_pairs != F.lit(0),
            F.lit(1.0)
            - F.col("candidate_pairs").cast("double") / all_pairs,
        ).alias("reduction_ratio"),
    )


_EVENTS_BLOCKING_AUDIT_ORACLE = """
WITH ev AS (
  SELECT user_id, event_type,
         (epoch_us(ts) // 1000000) // 86400 AS day
  FROM events
), gt AS (
  SELECT event_type,
         CAST(sum(g * (g - 1)) // 2 AS BIGINT) AS gt_pairs
  FROM (
    SELECT user_id, event_type, count(*) AS g
    FROM ev GROUP BY 1, 2
  ) GROUP BY 1
), cand AS (
  SELECT event_type,
         CAST(sum(b * (b - 1)) // 2 AS BIGINT) AS candidate_pairs,
         CAST(sum(b) AS BIGINT) AS n_rows
  FROM (
    SELECT event_type, day, count(*) AS b
    FROM ev GROUP BY 1, 2
  ) GROUP BY 1
), caught AS (
  SELECT event_type,
         CAST(sum(c * (c - 1)) // 2 AS BIGINT) AS caught_pairs
  FROM (
    SELECT user_id, event_type, day, count(*) AS c
    FROM ev GROUP BY 1, 2, 3
  ) GROUP BY 1
)
SELECT event_type, n_rows, gt_pairs, candidate_pairs, caught_pairs,
       CASE WHEN gt_pairs = 0 THEN NULL
       ELSE CAST(caught_pairs AS DOUBLE) / gt_pairs END
         AS pair_completeness,
       CASE WHEN n_rows * (n_rows - 1) // 2 = 0 THEN NULL
       ELSE 1e0 - CAST(candidate_pairs AS DOUBLE)
               / (n_rows * (n_rows - 1) // 2) END
         AS reduction_ratio
FROM gt JOIN cand USING (event_type) JOIN caught USING (event_type)
"""


def q_doc_quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L32 — ordered quality-filter funnel (the Gopher/C4-style rule
    cascade every corpus release documents): rules applied in sequence,
    one row per stage with entering/killed/surviving counts, so the
    attrition report shows WHICH rule costs how much corpus. Rules are
    integer-exact (cross-multiplied thresholds, tuned to BIND at every
    SF — the capped_sessions vacuousness discipline):

      1 min_length      n_chars ≥ 100
      2 min_tokens      n_tokens ≥ 20
      3 word_shape      3·n_tokens ≤ chars_no_space ≤ 4.9·n_tokens
                        (as 10·chars ≤ 49·tokens)
      4 repetition      3·distinct_tokens ≥ n_tokens

    Scale: ONE map-side pass computes all four flags per doc, one
    partial-aggregable count rollup, and a 4-row stack on the 1-row
    aggregate — no joins, no second corpus scan."""
    from floatchat_datapipeline_spark.functions.textstats import tokens

    d = load_table(spark, sf_dir, "documents").select(
        "n_chars",
        F.size(tokens("text")).alias("nt"),
        F.size(F.array_distinct(tokens("text"))).alias("dt"),
        F.length(F.regexp_replace("text", " ", "")).alias("lns"),
    )
    flagged = d.select(
        (F.col("n_chars") >= 100).alias("r1"),
        (F.col("nt") >= 20).alias("r2"),
        (
            (3 * F.col("nt") <= F.col("lns"))
            & (10 * F.col("lns") <= 49 * F.col("nt"))
        ).alias("r3"),
        (3 * F.col("dt") >= F.col("nt")).alias("r4"),
    )
    agg = flagged.agg(
        F.count(F.lit(1)).alias("n0"),
        F.count(F.when(F.col("r1"), 1)).alias("n1"),
        F.count(F.when(F.col("r1") & F.col("r2"), 1)).alias("n2"),
        F.count(F.when(F.col("r1") & F.col("r2") & F.col("r3"), 1)).alias(
            "n3"
        ),
        F.count(
            F.when(F.col("r1") & F.col("r2") & F.col("r3") & F.col("r4"), 1)
        ).alias("n4"),
    )
    return agg.select(
        F.expr(
            "stack(4, "
            "1L, 'min_length', n0, n1, "
            "2L, 'min_tokens', n1, n2, "
            "3L, 'word_shape', n2, n3, "
            "4L, 'repetition', n3, n4) AS (stage, rule, n_in, n_out)"
        )
    ).select(
        "stage",
        "rule",
        "n_in",
        (F.col("n_in") - F.col("n_out")).alias("n_killed"),
        "n_out",
        # degenerate guard: a stage nothing reaches (n_in = 0) has no
        # kill rate — NULL, not an ANSI abort; mirrored in the oracle
        F.when(
            F.col("n_in") != F.lit(0),
            (F.col("n_in") - F.col("n_out")).cast("double")
            / F.col("n_in"),
        ).alias("kill_rate"),
    )


_DOC_QUALITY_FUNNEL_ORACLE = """
WITH d AS (
  SELECT n_chars,
         len(string_split(text, ' ')) AS nt,
         len(list_distinct(string_split(text, ' '))) AS dt,
         len(replace(text, ' ', '')) AS lns
  FROM documents
), f AS (
  SELECT (n_chars >= 100) AS r1,
         (nt >= 20) AS r2,
         (3 * nt <= lns AND 10 * lns <= 49 * nt) AS r3,
         (3 * dt >= nt) AS r4
  FROM d
), a AS (
  SELECT CAST(count(*) AS BIGINT) AS n0,
         CAST(count(*) FILTER (r1) AS BIGINT) AS n1,
         CAST(count(*) FILTER (r1 AND r2) AS BIGINT) AS n2,
         CAST(count(*) FILTER (r1 AND r2 AND r3) AS BIGINT) AS n3,
         CAST(count(*) FILTER (r1 AND r2 AND r3 AND r4) AS BIGINT) AS n4
  FROM f
), s AS (
  SELECT 1 AS stage, 'min_length' AS rule, n0 AS n_in, n1 AS n_out FROM a
  UNION ALL SELECT 2, 'min_tokens', n1, n2 FROM a
  UNION ALL SELECT 3, 'word_shape', n2, n3 FROM a
  UNION ALL SELECT 4, 'repetition', n3, n4 FROM a
)
SELECT CAST(stage AS BIGINT) AS stage, rule, n_in,
       n_in - n_out AS n_killed, n_out,
       CASE WHEN n_in = 0 THEN NULL
       ELSE CAST(n_in - n_out AS DOUBLE) / n_in END AS kill_rate
FROM s
"""


def q_trade_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G10 — directed-graph reciprocity over the nation→nation trade
    network (J10's edges with exact e-4-dollar weights): what fraction
    of directed trade relations flow back? Edge reciprocity (count of
    reciprocated edges / edges) and Squartini-style weighted
    reciprocity (Σ min(w_ij, w_ji) / Σ w_ij) — both exact BIGINT
    numerator/denominator pairs with ONE IEEE division each, plus the
    raw counts so the certificate is auditable.

    Scale: the fact pass is J10's shape (one fact-fact shuffle,
    broadcast role dims) down to the nation-pair grain; the reciprocity
    self-join runs on that EDGE LIST (bounded by nations², never rows)
    keyed on the reversed pair."""
    nation = load_table(spark, sf_dir, "nation")
    supp_nation = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nation),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("src"))
    )
    cust_nation = (
        load_table(spark, sf_dir, "customer")
        .join(
            F.broadcast(nation),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey", F.col("n_name").alias("dst"))
    )
    units = (
        F.round(F.col("l_extendedprice") * 100).cast("long")
        * (100 - F.round(F.col("l_discount") * 100).cast("long"))
    ).alias("u")
    edges = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey", units)
        .join(
            load_table(spark, sf_dir, "orders").select(
                "o_orderkey", "o_custkey"
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(cust_nation), F.col("o_custkey") == F.col("c_custkey")
        )
        .join(F.broadcast(supp_nation), F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.sum("u").alias("w"))
        .localCheckpoint(eager=True)
    )
    rev = edges.select(
        F.col("src").alias("dst"),
        F.col("dst").alias("src"),
        F.col("w").alias("w_rev"),
    )
    paired = edges.join(rev, ["src", "dst"], "left")
    return paired.agg(
        F.count(F.lit(1)).alias("n_edges"),
        F.count("w_rev").alias("n_reciprocated"),
        F.sum("w").alias("w_total"),
        F.sum(
            F.least(F.col("w"), F.coalesce(F.col("w_rev"), F.lit(0)))
        ).alias("w_reciprocated"),
    ).select(
        "n_edges",
        "n_reciprocated",
        "w_total",
        "w_reciprocated",
        # Degenerate guards (lazy CaseWhen): an EMPTY edge list (every
        # trade intra-nation) or zero total weight leaves reciprocity
        # undefined — NULL instead of an ANSI abort; mirrored in the
        # oracle. The w_total guard also covers NULL (empty-agg sum).
        F.when(
            F.col("n_edges") != F.lit(0),
            F.col("n_reciprocated").cast("double") / F.col("n_edges"),
        ).alias("edge_reciprocity"),
        F.when(
            F.col("w_total") != F.lit(0),
            F.col("w_reciprocated").cast("double") / F.col("w_total"),
        ).alias("weighted_reciprocity"),
    )


_TRADE_RECIPROCITY_ORACLE = """
WITH edges AS (
  SELECT sn.n_name AS src, cn.n_name AS dst,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                  * (100 - CAST(round(l_discount * 100) AS BIGINT)))
              AS BIGINT) AS w
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation sn ON s_nationkey = sn.n_nationkey
  JOIN nation cn ON c_nationkey = cn.n_nationkey
  WHERE sn.n_name <> cn.n_name
  GROUP BY 1, 2
), paired AS (
  SELECT a.w, b.w AS w_rev
  FROM edges a LEFT JOIN edges b
    ON a.src = b.dst AND a.dst = b.src
)
SELECT CAST(count(*) AS BIGINT) AS n_edges,
       CAST(count(w_rev) AS BIGINT) AS n_reciprocated,
       CAST(sum(w) AS BIGINT) AS w_total,
       CAST(sum(least(w, coalesce(w_rev, 0))) AS BIGINT)
         AS w_reciprocated,
       CASE WHEN count(*) = 0 THEN NULL
       ELSE CAST(count(w_rev) AS DOUBLE) / count(*) END
         AS edge_reciprocity,
       CASE WHEN coalesce(sum(w), 0) = 0 THEN NULL
       ELSE CAST(sum(least(w, coalesce(w_rev, 0))) AS DOUBLE) / sum(w)
         END AS weighted_reciprocity
FROM paired
"""


def q_events_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A57 — Wald–Wolfowitz runs test for randomness per event type:
    split the daily-cents series at its R-7 median (above = x > med,
    the deterministic tie rule), count runs R of consecutive same-side
    days, and test R against its null distribution with every compared
    quantity exact: A = R·n − 2·n1·n2 − n (the numerator of R − μ
    scaled by n) and B = 2·n1·n2·(2·n1·n2 − n) (Var scaled by
    n²(n−1)), so non-random ⇔ 10000·A²·(n−1) > 38416·B. The
    companion to TS27: Mann-Kendall asks "is there a trend", this asks
    "is the sequence random at all" (clustering OR over-alternation
    both reject).

    Scale: daily rollup (one partial-agg), per-type median on the
    time-bounded spine, one lag window per type partition — no joins
    against the fact table after the rollup."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        epoch_seconds(F.col("ts")).alias("es"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    daily = ev.groupBy(
        "event_type", F.expr("es div 86400").alias("day")
    ).agg(F.sum("cents").alias("x"))
    return _runs_test_report(daily)


def _runs_test_report(daily: DataFrame) -> DataFrame:
    """Wald–Wolfowitz core over a (event_type, day, x) series frame —
    factored so property tests can feed synthetic alternating/clustered
    series (tests/test_round10_ops.py). See q_events_runs_test."""
    from pyspark.sql import Window

    med = daily.groupBy("event_type").agg(
        F.expr("percentile(x, 0.5e0)").alias("med")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    sided = (
        daily.join(F.broadcast(med), "event_type")
        .select(
            "event_type",
            "day",
            (F.col("x") > F.col("med")).cast("int").alias("above"),
        )
        .select(
            "event_type",
            "above",
            F.when(
                F.lag("above").over(w).isNull()
                | (F.lag("above").over(w) != F.col("above")),
                1,
            )
            .otherwise(0)
            .alias("new_run"),
        )
    )
    agg = sided.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("above").cast("long").alias("n_above"),
        (F.count(F.lit(1)) - F.sum("above")).cast("long").alias("n_below"),
        F.sum("new_run").cast("long").alias("runs"),
    )
    a_num = (
        F.col("runs") * F.col("n_days")
        - 2 * F.col("n_above") * F.col("n_below")
        - F.col("n_days")
    )
    b_den = (
        2
        * F.col("n_above")
        * F.col("n_below")
        * (2 * F.col("n_above") * F.col("n_below") - F.col("n_days"))
    )
    return agg.select(
        "event_type",
        "n_days",
        "n_above",
        "n_below",
        "runs",
        (
            (F.col("n_above") > 0)
            & (F.col("n_below") > 0)
            & (b_den > 0)
            & (
                F.lit(10000) * a_num * a_num * (F.col("n_days") - 1)
                > F.lit(38416) * b_den
            )
        ).alias("non_random"),
    )


_EVENTS_RUNS_TEST_ORACLE = """
WITH ev AS (
  SELECT event_type, epoch_us(ts) // 1000000 AS es,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
), daily AS (
  SELECT event_type, es // 86400 AS day,
         CAST(sum(cents) AS BIGINT) AS x
  FROM ev GROUP BY 1, 2
), med AS (
  SELECT event_type, quantile_cont(x, 0.5e0) AS med
  FROM daily GROUP BY 1
), sided AS (
  SELECT d.event_type, d.day,
         CAST(d.x > m.med AS INT) AS above
  FROM daily d JOIN med m USING (event_type)
), runs AS (
  SELECT event_type, above,
         CASE WHEN lag(above) OVER (
                PARTITION BY event_type ORDER BY day) IS DISTINCT
                FROM above THEN 1 ELSE 0 END AS new_run
  FROM sided
), agg AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_days,
         CAST(sum(above) AS BIGINT) AS n_above,
         CAST(count(*) - sum(above) AS BIGINT) AS n_below,
         CAST(sum(new_run) AS BIGINT) AS runs
  FROM runs GROUP BY 1
)
SELECT event_type, n_days, n_above, n_below, runs,
       (n_above > 0 AND n_below > 0
        AND 2 * n_above * n_below * (2 * n_above * n_below - n_days) > 0
        AND 10000 * (runs * n_days - 2 * n_above * n_below - n_days)
                  * (runs * n_days - 2 * n_above * n_below - n_days)
                  * (n_days - 1)
            > 38416 * 2 * n_above * n_below
                    * (2 * n_above * n_below - n_days))
         AS non_random
FROM agg
"""


def q_formats_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S18 — interchange-format round-trip under the value gate: the
    event_id%17 slice is written to CSV, JSON, and ORC through
    sources/formats.write_table (pinned schema, microsecond
    timestampFormat) and read back through read_table; the per-format
    rollup — including an exact Σ unix_micros(ts) so timestamp
    precision is ON the hash path — must equal the parquet truth for
    every format. This moves the formats module from module-test-only
    under the driver's hash gate: a format that truncated micros,
    mangled a double, or dropped rows would hash-mismatch its row.

    Scale: each leg is one partition-parallel write + scan of the
    slice; text-format schema is PINNED (no inference pass), the
    module's steady-state rule."""
    import shutil

    from floatchat_datapipeline_spark.sinks.bucketed import _layout_tag
    from floatchat_datapipeline_spark.sources.formats import (
        read_table,
        write_table,
    )

    warehouse = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).removeprefix("file:")
    root = os.path.join(warehouse, f"formats_rt_{_layout_tag(sf_dir)}")
    if os.path.exists(root):
        shutil.rmtree(root)
    sl = load_table(spark, sf_dir, "events").filter(
        F.col("event_id") % 17 == 0
    ).select("event_id", "user_id", "event_type", "value", "ts")
    legs = []
    for fmt in ("csv", "json", "orc"):
        path = os.path.join(root, fmt)
        write_table(sl, path, fmt=fmt)
        back = read_table(spark, path, fmt=fmt, schema=sl.schema)
        legs.append(
            back.agg(
                F.lit(fmt).alias("fmt"),
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(
                    F.expr("CAST(floor(value * 100) AS BIGINT)")
                ).alias("cents"),
                F.sum("event_id").alias("id_sum"),
                # offset keeps the exact-micros sum inside BIGINT
                # (raw epoch_us ≈ 1.7e15 × row count overflows)
                F.sum(
                    F.unix_micros(F.col("ts"))
                    - F.lit(1700000000000000)
                ).alias("ts_micros_sum"),
            )
        )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out


_FORMATS_ROUNDTRIP_ORACLE = """
WITH base AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents,
         CAST(sum(event_id) AS BIGINT) AS id_sum,
         CAST(sum(epoch_us(ts) - 1700000000000000) AS BIGINT)
           AS ts_micros_sum
  FROM events WHERE event_id % 17 = 0
)
SELECT fmt, n_rows, cents, id_sum, ts_micros_sum
FROM (SELECT unnest(['csv', 'json', 'orc']) AS fmt) CROSS JOIN base
"""


def q_erddap_report_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K10 — the commit-protocol report SINK under the value gate: the
    event_id%19 slice is written through
    `df.write.format("erddap_report")` (sources/pyds.py
    ErddapReportWriter — per-task CSV parts, driver-side commit renders
    _MANIFEST + _SUCCESS only after every task reports in), then the
    published parts are read back (pathGlobFilter, pinned schema) and
    rolled up against the parquet truth. The write side analog of
    erddap_staged_scan's read gate: a lost task, a partial part, or a
    type-mangling write would hash-mismatch.

    Scale: the writer is embarrassingly parallel (one part per task);
    the 8-way repartition here just bounds the part count for the
    fixture — at 100 TB the natural partitioning stands and commit
    cost is one manifest line per task."""
    import shutil

    from floatchat_datapipeline_spark.sinks.bucketed import _layout_tag
    from floatchat_datapipeline_spark.sources.pyds import (
        ErddapReportDataSource,
    )

    warehouse = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).removeprefix("file:")
    path = os.path.join(warehouse, f"erddap_report_{_layout_tag(sf_dir)}")
    if os.path.exists(path):
        shutil.rmtree(path)
    spark.dataSource.register(ErddapReportDataSource)
    sl = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 19 == 0)
        .select("event_id", "user_id", "event_type", "value")
        .repartition(8, "event_id")
    )
    sl.write.format("erddap_report").option("path", path).mode(
        "append"
    ).save()
    back = (
        spark.read.schema(
            "event_id long, user_id long, event_type string, value double"
        )
        .option("header", "true")
        .option("pathGlobFilter", "part-*.csv")
        .csv(path)
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum(F.expr("CAST(floor(value * 100) AS BIGINT)")).alias("cents"),
        F.sum("event_id").alias("id_sum"),
    )


_ERDDAP_REPORT_ROUNDTRIP_ORACLE = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents,
       CAST(sum(event_id) AS BIGINT) AS id_sum
FROM events
WHERE event_id % 19 = 0
GROUP BY event_type
"""


def q_erddap_stream_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S13 — the STREAMING Python DataSource under the value gate: the
    event_id%23 slice staged as per-float CSVs is consumed through
    `spark.readStream.format("erddap_stream")` (sources/pyds.py
    SimpleDataSourceStreamReader — per-arrival micro-batches over the
    checkpointed file-count offset, the reference's /upload ingest,
    fastapi_app.py:614-778) with an AvailableNow trigger into a
    complete-mode aggregation, and the drained result must hash-match
    the batch oracle over the same rows — the stream-twin pattern
    (S10/S14/S19/S20) applied to the custom source itself. Offset
    replay across runs stays pinned by tests/test_pyds.py; THIS query
    proves the typed row stream is value-correct end to end.

    Scale: the simple stream reader prefetches per micro-batch on the
    driver (the documented simple-API trade); the aggregation is one
    partial-agg shuffle at STREAM_SHUFFLE_PARTITIONS."""
    from floatchat_datapipeline_spark.sinks.bucketed import _layout_tag
    from floatchat_datapipeline_spark.sources.pyds import (
        ErddapStreamDataSource,
    )
    from floatchat_datapipeline_spark.streaming.run import materialize

    warehouse = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).removeprefix("file:")
    path = os.path.join(
        warehouse, f"erddap_stream_{_layout_tag(sf_dir)}"
    )
    _stage_events_csv(spark, sf_dir, path, mod=23, n_files=6)
    spark.dataSource.register(ErddapStreamDataSource)
    sdf = (
        spark.readStream.format("erddap_stream")
        .option("path", path)
        .option("ddl", _EVENTS_CSV_DDL)
        .load()
    )
    agg = sdf.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        # no countDistinct: unsupported on streams (use the HLL twin
        # S11 pattern where approximate distincts are needed)
        F.sum(F.expr("CAST(floor(value * 100) AS BIGINT)")).alias("cents"),
        F.sum("event_id").alias("id_sum"),
        F.max("user_id").alias("max_user"),
    )
    return materialize(agg, "q_erddap_stream_scan", output_mode="complete")


_ERDDAP_STREAM_SCAN_ORACLE = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents,
       CAST(sum(event_id) AS BIGINT) AS id_sum,
       max(user_id) AS max_user
FROM events
WHERE event_id % 23 = 0
GROUP BY event_type
"""


def q_minhash_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D14 — LSH blocking recall certificate, the dedup-family analog
    of V15's ANN recall audit: ground truth = the EXACT Jaccard ≥ 1/2
    shingle pairs (L22's lossless PPJoin), candidates = the banded
    MinHash-LSH buckets (the 100 TB blocking path) — how many true
    near-dup pairs does the sketch blocking actually surface? Both pair
    sets are deterministic (seeded md5 minhashes), so recall and
    bucket precision are exact, hash-checkable values — at sf0.01 the
    bands honestly MISS one true pair (recall 24/25), the
    discriminating contrast that proves the certificate can fail.

    Scale: each leg is its own bounded/banded design (capped posting
    lists, banded buckets — never all-pairs); the audit joins the two
    PAIR LISTS (output-sized, not corpus-sized), both memoized as
    shared corpus state with their standalone queries
    (_cached_pair_frame — the D5-component/ANN-model accounting)."""
    gt = _cached_pair_frame(spark, sf_dir, "ppjoin").select("id_a", "id_b")
    cand = _cached_pair_frame(spark, sf_dir, "lsh").select("id_a", "id_b")
    hit = gt.join(
        cand.withColumn("hit", F.lit(1)), ["id_a", "id_b"], "left"
    )
    stats_gt = hit.agg(
        F.count(F.lit(1)).alias("n_true"),
        F.count("hit").alias("n_caught"),
    )
    stats_cand = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    # Degenerate guards (lazy CaseWhen): with no true pairs recall is
    # undefined, with no candidate pairs precision is — NULL instead of
    # an ANSI abort (fires when every document is unique, e.g. a tiny
    # corpus with no near-dups). Mirrored CASEs in the oracle.
    return stats_gt.crossJoin(F.broadcast(stats_cand)).select(
        "n_true",
        "n_candidates",
        "n_caught",
        F.when(
            F.col("n_true") != F.lit(0),
            F.col("n_caught").cast("double") / F.col("n_true"),
        ).alias("recall"),
        F.when(
            F.col("n_candidates") != F.lit(0),
            F.col("n_caught").cast("double") / F.col("n_candidates"),
        ).alias("bucket_precision"),
    )


_MINHASH_RECALL_AUDIT_ORACLE = f"""
WITH {_MINHASH_SIG_SQL},
keys AS (
  SELECT doc_id, CAST(seed // 4 AS INT) AS band,
         md5(string_agg(CAST(minhash AS STRING), ',' ORDER BY seed))
           AS band_key
  FROM sig GROUP BY doc_id, CAST(seed // 4 AS INT)
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM keys a JOIN keys b
    ON a.band = b.band AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
), psh AS (
  SELECT doc_id,
         unnest(list_transform({_SHINGLES_3_SQL},
                               s -> {_MD5_LONG_SQL.format(x='s')})) AS tok
  FROM (SELECT doc_id, string_split(text, ' ') t FROM documents)
), psizes AS (
  SELECT doc_id, count(*) AS n FROM psh GROUP BY doc_id
), pinter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM psh a JOIN psh b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), gt AS (
  SELECT id_a, id_b FROM pinter
  JOIN psizes sa ON id_a = sa.doc_id
  JOIN psizes sb ON id_b = sb.doc_id
  WHERE n_inter * 2 >= 1 * (sa.n + sb.n - n_inter)
), c AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM gt) AS n_true,
         (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_candidates,
         (SELECT CAST(count(*) AS BIGINT)
          FROM gt JOIN cand USING (id_a, id_b)) AS n_caught
)
SELECT n_true, n_candidates, n_caught,
       CASE WHEN n_true = 0 THEN NULL
       ELSE CAST(n_caught AS DOUBLE) / n_true END AS recall,
       CASE WHEN n_candidates = 0 THEN NULL
       ELSE CAST(n_caught AS DOUBLE) / n_candidates END
         AS bucket_precision
FROM c
"""


def q_ann_nprobe_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V17 — the IVF TUNING LOOP as a hash-checked certificate:
    aggregate exact recall@10 of the trained IVF index (O6's coarse
    quantizer, memoized per corpus) at nprobe ∈ {1, 2, 4} over FIVE
    query vectors, against the brute-force exact top-10 under the SAME
    6dp-rounded cosine and (score DESC, vec_id) tie rule. Five queries
    rather than one so the curve DISCRIMINATES at every SF (a single
    query's whole top-10 can land in one cluster and saturate the
    curve); recall rises strictly with the probe budget at all three
    test SFs. V15 certifies one operating point; this sweeps the knob
    every ANN deployment tunes before pinning nprobe.

    Scale: ONE memoized quantizer training feeds everything; the ann
    leg reads the assigned table once for all 15 (query, nprobe)
    combinations (the probe-cluster join replicates only matching
    inverted lists); the exact leg is one corpus scan against the
    5-vector broadcast. Windows partition by (nprobe, qid) — bounded,
    never global."""
    from pyspark.sql import Window

    from floatchat_datapipeline_spark.embeddings.search import (
        kmeans_centroids,
        nearest_centroid,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cache_key = f"{sf_dir}/embeddings.parquet"
    cents = kmeans_centroids(emb, 8, 2, "embedding", "vec_id", cache_key)
    base = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    qs = (
        base.filter(F.col("vec_id").isin(1, 2, 3, 4, 5))
        .select(F.col("vec_id").alias("qid"), F.col("vec").alias("qvec"))
        .localCheckpoint(eager=True)
    )
    sim = F.round(cosine(F.col("vec"), F.col("qvec")), 6)
    wq = Window.partitionBy("qid").orderBy(F.desc("_s"), "vec_id")
    exact = (
        base.crossJoin(F.broadcast(qs))
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", sim.alias("_s"))
        .withColumn("rk", F.row_number().over(wq))
        .filter(F.col("rk") <= 10)
        .select("qid", "vec_id")
        .localCheckpoint(eager=True)
    )
    cents_df = spark.createDataFrame(cents, "_cid int, _cvec array<double>")
    rc = (
        cents_df.crossJoin(F.broadcast(qs))
        .select(
            "qid",
            "_cid",
            F.round(cosine(F.col("_cvec"), F.col("qvec")), 6).alias("_s"),
        )
        .withColumn(
            "r",
            F.row_number().over(
                Window.partitionBy("qid").orderBy(F.desc("_s"), "_cid")
            ),
        )
        .filter(F.col("r") <= 4)
        .select("qid", F.col("_cid").alias("probe_cluster"), "r")
    )
    nps = spark.range(0).sparkSession.createDataFrame(
        [(1,), (2,), (4,)], "nprobe long"
    )
    probes = rc.crossJoin(F.broadcast(nps)).filter(
        F.col("r") <= F.col("nprobe")
    )
    assigned = base.withColumn(
        "cluster", nearest_centroid("vec", cents)
    )
    wnq = Window.partitionBy("nprobe", "qid").orderBy(
        F.desc("_s"), "vec_id"
    )
    ann = (
        assigned.join(
            F.broadcast(probes),
            F.col("cluster") == F.col("probe_cluster"),
        )
        .join(F.broadcast(qs), "qid")
        .filter(F.col("vec_id") != F.col("qid"))
        .select("nprobe", "qid", "vec_id", sim.alias("_s"))
        .withColumn("rk", F.row_number().over(wnq))
        .filter(F.col("rk") <= 10)
        .select("nprobe", "qid", "vec_id")
    )
    return (
        ann.join(
            exact.withColumn("hit", F.lit(1)), ["qid", "vec_id"], "left"
        )
        .groupBy("nprobe")
        .agg(
            F.count("hit").alias("n_hits"),
            F.count(F.lit(1)).alias("n_total"),
        )
        .select(
            "nprobe",
            "n_hits",
            "n_total",
            (F.col("n_hits").cast("double") / F.col("n_total")).alias(
                "recall"
            ),
        )
    )


def _ann_nprobe_recall_oracle(k: int = 8, iters: int = 2) -> str:
    """k-means replay prefix + per-(query, nprobe) probe/re-rank,
    intersected with the exact brute-force top-10 per query (same
    rounding + tie rules as _ann_ivf_oracle)."""
    return (
        "WITH "
        + _kmeans_replay_sql(k, iters)
        + f""", qs AS (
  SELECT vec_id AS qid, vec AS qvec FROM v
  WHERE vec_id IN (1, 2, 3, 4, 5)
), exact AS (
  SELECT qid, vec_id FROM (
    SELECT q.qid, a.vec_id,
           row_number() OVER (
             PARTITION BY q.qid
             ORDER BY {_COS_SQL.format(a='a.vec', b='q.qvec')} DESC,
                      a.vec_id
           ) AS rk
    FROM v a JOIN qs q ON a.vec_id <> q.qid)
  WHERE rk <= 10
), rc AS (
  SELECT q.qid, c.cid,
         row_number() OVER (
           PARTITION BY q.qid
           ORDER BY {_COS_SQL.format(a='q.qvec', b='c.cvec')} DESC, c.cid
         ) AS r
  FROM c{iters} c, qs q
), nps AS (
  SELECT unnest([1, 2, 4]) AS nprobe
), ann AS (
  SELECT n.nprobe, rc.qid, a.vec_id,
         row_number() OVER (
           PARTITION BY n.nprobe, rc.qid
           ORDER BY {_COS_SQL.format(a='a.vec', b='q.qvec')} DESC,
                    a.vec_id
         ) AS rk
  FROM nps n
  JOIN rc ON rc.r <= n.nprobe
  JOIN af a ON a.cluster = rc.cid
  JOIN qs q ON q.qid = rc.qid AND a.vec_id <> q.qid
), topk AS (
  SELECT nprobe, qid, vec_id FROM ann WHERE rk <= 10
)
SELECT CAST(t.nprobe AS BIGINT) AS nprobe,
       CAST(count(e.vec_id) AS BIGINT) AS n_hits,
       CAST(count(*) AS BIGINT) AS n_total,
       CAST(count(e.vec_id) AS DOUBLE) / count(*) AS recall
FROM topk t LEFT JOIN exact e USING (qid, vec_id)
GROUP BY t.nprobe
"""
    )


_ANN_NPROBE_RECALL_ORACLE = _ann_nprobe_recall_oracle()


def q_join_skew_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z5 — shuffle-skew diagnostic report, the operational "explain my
    join" every 100 TB pipeline runs before picking a strategy: per
    candidate join key (events.user_id, lineitem.l_orderkey), the key
    cardinality, hottest-key frequency, R-7 median frequency, how many
    keys run hotter than 2× the mean (exact cross-multiplied
    integers — 2× binds on lineitem's order sizes at every SF while
    events stays an honest 0, the uniform-traffic contrast), the
    max/mean skew ratio, and the SALT FACTOR a Z2-style
    salted aggregation would need so the hottest key fits one of 32
    reducer partitions: ceil(max_freq · 32 / n_rows) in pure integer
    math. The advisory twin of the engine's skew machinery (Z2 salting,
    AQE skew joins, _cap_key_frequency).

    Scale: one partial-aggregable frequency rollup per audited key —
    the histogram is keys-sized, never rows-sized; the totals ride back
    onto it as a 1-row broadcast (never a second fact pass)."""

    def audit(df: DataFrame, table: str, key: str) -> DataFrame:
        # keys-sized; checkpointed because totals + final agg both read it
        freq = (
            df.groupBy(F.col(key).alias("k"))
            .agg(F.count(F.lit(1)).alias("cnt"))
            .localCheckpoint(eager=True)
        )
        tot = freq.agg(
            F.sum("cnt").alias("n_rows"),
            F.count(F.lit(1)).alias("n_keys"),
        )
        agg = (
            freq.crossJoin(F.broadcast(tot))
            .agg(
                F.lit(table).alias("table_name"),
                F.lit(key).alias("join_key"),
                F.max("n_rows").alias("n_rows"),
                F.max("n_keys").alias("n_keys"),
                F.max("cnt").alias("max_freq"),
                F.expr("percentile(cnt, 0.5e0)").alias("median_freq"),
                F.sum(
                    F.when(
                        F.col("cnt") * F.col("n_keys")
                        > 2 * F.col("n_rows"),
                        1,
                    ).otherwise(0)
                )
                .cast("long")
                .alias("heavy_keys"),
            )
        )
        return agg.select(
            "table_name",
            "join_key",
            "n_rows",
            "n_keys",
            "max_freq",
            "median_freq",
            "heavy_keys",
            (
                (F.col("max_freq") * F.col("n_keys")).cast("double")
                / F.col("n_rows")
            ).alias("skew_ratio"),
            F.expr(
                "(max_freq * 32 + n_rows - 1) div n_rows"
            ).alias("recommended_salt"),
        )

    ev = load_table(spark, sf_dir, "events").select("user_id")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    return audit(ev, "events", "user_id").unionByName(
        audit(li, "lineitem", "l_orderkey")
    )


_JOIN_SKEW_ADVISOR_ORACLE = """
WITH fe AS (
  SELECT user_id AS k, CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1
), fl AS (
  SELECT l_orderkey AS k, CAST(count(*) AS BIGINT) AS cnt
  FROM lineitem GROUP BY 1
), ae AS (
  SELECT 'events' AS table_name, 'user_id' AS join_key,
         CAST(sum(cnt) AS BIGINT) AS n_rows,
         CAST(count(*) AS BIGINT) AS n_keys,
         CAST(max(cnt) AS BIGINT) AS max_freq,
         quantile_cont(cnt, 0.5e0) AS median_freq
  FROM fe
), he AS (
  SELECT CAST(count(*) FILTER (
           WHERE cnt * (SELECT n_keys FROM ae)
                 > 2 * (SELECT n_rows FROM ae)) AS BIGINT) AS heavy_keys
  FROM fe
), al AS (
  SELECT 'lineitem' AS table_name, 'l_orderkey' AS join_key,
         CAST(sum(cnt) AS BIGINT) AS n_rows,
         CAST(count(*) AS BIGINT) AS n_keys,
         CAST(max(cnt) AS BIGINT) AS max_freq,
         quantile_cont(cnt, 0.5e0) AS median_freq
  FROM fl
), hl AS (
  SELECT CAST(count(*) FILTER (
           WHERE cnt * (SELECT n_keys FROM al)
                 > 2 * (SELECT n_rows FROM al)) AS BIGINT) AS heavy_keys
  FROM fl
)
SELECT table_name, join_key, n_rows, n_keys, max_freq, median_freq,
       heavy_keys,
       CAST(max_freq * n_keys AS DOUBLE) / n_rows AS skew_ratio,
       (max_freq * 32 + n_rows - 1) // n_rows AS recommended_salt
FROM ae CROSS JOIN he
UNION ALL
SELECT table_name, join_key, n_rows, n_keys, max_freq, median_freq,
       heavy_keys,
       CAST(max_freq * n_keys AS DOUBLE) / n_rows AS skew_ratio,
       (max_freq * 32 + n_rows - 1) // n_rows AS recommended_salt
FROM al CROSS JOIN hl
"""


def q_events_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A58 — Kruskal–Wallis H test per event type: do THREE variants
    (user_id % 3) draw from the same value distribution? The k-group
    extension of A55's Mann–Whitney, built on the same DOUBLED-midrank
    machinery (2R_j = Σ t_j·(2·cum_less + t + 1) keeps every rank sum
    a BIGINT through ties), with the tie-corrected H as ONE fixed
    double tree over integer scalars (rounded 1e-9, the derived-float
    convention; r2² squares in double — exact BIGINT squaring would
    overflow past ~200k rows/group). Significance at α = 0.05 compares
    H to the χ²(2) critical value 5.9915; the identical synthetic
    variants honestly never fire (H ranges 0.3–3.6 across SFs) and the
    property test proves a shifted group trips the gate.

    Plan: one partial-agg to the (type, cents) domain, one window
    PARTITIONED by type, one per-type rollup — the A55 shape with a
    third tally column."""
    ev = load_table(spark, sf_dir, "events")
    g = ev.groupBy(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("v"),
    ).agg(
        *[
            F.sum(
                F.when(F.col("user_id") % 3 == j, F.lit(1)).otherwise(
                    F.lit(0)
                )
            ).alias(f"t{j}")
            for j in (0, 1, 2)
        ]
    )
    return _kruskal_wallis_report(g)


def _kruskal_wallis_report(g: DataFrame) -> DataFrame:
    """KW core over a (event_type, v, t0, t1, t2) tally frame —
    factored so property tests can feed synthetic shifted groups
    (tests/test_round10_ops.py). See q_events_kruskal_wallis."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy("event_type")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    t = F.col("t0") + F.col("t1") + F.col("t2")
    cum = g.withColumn(
        "cless", F.coalesce(F.sum(t).over(w), F.lit(0))
    )
    stats = cum.groupBy("event_type").agg(
        F.sum("t0").alias("n0"),
        F.sum("t1").alias("n1"),
        F.sum("t2").alias("n2"),
        *[
            F.sum(
                F.col(f"t{j}") * (F.lit(2) * F.col("cless") + t + F.lit(1))
            ).alias(f"r2{j}")
            for j in (0, 1, 2)
        ],
        F.sum(t * t * t - t).alias("tie3"),
    )
    n = F.col("n0") + F.col("n1") + F.col("n2")
    # Degenerate guards, structurally safe (q_events_anova_f round-13
    # pattern — try_divide everywhere a divisor can be 0, instead of
    # ORDER-dependent CaseWhen branches): an empty variant NULLs `term`
    # (and with it h), n ≤ 1 NULLs corr's n³−n quotient, and all-tied
    # values (tie3 = n³−n → corr = 0) NULL the final quotient. NULL
    # propagates identically to the old branch chain; no ordering
    # exists to silently reintroduce DIVIDE_BY_ZERO under ANSI mode.
    term = sum(
        F.try_divide(
            F.col(f"r2{j}").cast("double") * F.col(f"r2{j}"),
            F.lit(4.0) * F.col(f"n{j}"),
        )
        for j in (0, 1, 2)
    )
    h0 = F.try_divide(F.lit(12.0), n * (n + 1)) * term - F.lit(3.0) * (
        n + 1
    )
    corr = F.lit(1.0) - F.try_divide(
        F.col("tie3").cast("double"), n * n * n - n
    )
    h = F.round(F.try_divide(h0, corr), 9)
    return stats.select(
        "event_type",
        "n0",
        "n1",
        "n2",
        "tie3",
        h.alias("h"),
        (h > F.lit(5.9915)).alias("significant"),
    )


_EVENTS_KRUSKAL_WALLIS_ORACLE = """
WITH g AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v,
         CAST(sum(CASE WHEN user_id % 3 = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS t0,
         CAST(sum(CASE WHEN user_id % 3 = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS t1,
         CAST(sum(CASE WHEN user_id % 3 = 2 THEN 1 ELSE 0 END)
              AS BIGINT) AS t2
  FROM events GROUP BY 1, 2
), c AS (
  SELECT *, t0 + t1 + t2 AS t,
         CAST(coalesce(sum(t0 + t1 + t2) OVER (
           PARTITION BY event_type ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS cless
  FROM g
), s AS (
  SELECT event_type,
         CAST(sum(t0) AS BIGINT) AS n0,
         CAST(sum(t1) AS BIGINT) AS n1,
         CAST(sum(t2) AS BIGINT) AS n2,
         CAST(sum(t0 * (2 * cless + t + 1)) AS BIGINT) AS r20,
         CAST(sum(t1 * (2 * cless + t + 1)) AS BIGINT) AS r21,
         CAST(sum(t2 * (2 * cless + t + 1)) AS BIGINT) AS r22,
         CAST(sum(t * t * t - t) AS BIGINT) AS tie3
  FROM c GROUP BY 1
), o AS (
  SELECT event_type, n0, n1, n2, tie3,
         CASE WHEN n0 = 0 OR n1 = 0 OR n2 = 0 THEN NULL
         WHEN 1e0 - CAST(tie3 AS DOUBLE)
                    / ((n0 + n1 + n2) * (n0 + n1 + n2) * (n0 + n1 + n2)
                       - (n0 + n1 + n2)) = 0 THEN NULL
         ELSE round(
           ((12e0 / ((n0 + n1 + n2) * (n0 + n1 + n2 + 1)))
            * ((CAST(r20 AS DOUBLE) * r20) / (4e0 * n0)
               + (CAST(r21 AS DOUBLE) * r21) / (4e0 * n1)
               + (CAST(r22 AS DOUBLE) * r22) / (4e0 * n2))
            - 3e0 * (n0 + n1 + n2 + 1))
           / (1e0 - CAST(tie3 AS DOUBLE)
                    / ((n0 + n1 + n2) * (n0 + n1 + n2) * (n0 + n1 + n2)
                       - (n0 + n1 + n2))), 9) END AS h
  FROM s
)
SELECT event_type, n0, n1, n2, tie3, h, (h > 5.9915e0) AS significant
FROM o
"""


def q_events_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS28 — seasonality STRENGTH per event type: the fraction of
    value variance explained by the hour-of-day profile (the R² of
    TS10's seasonal-baseline decomposition; the STL-features
    "strength of seasonality" statistic). Exact until one final IEEE
    division: with per-hour sums s_h and counts c_h, the
    between-groups sum of squares quantizes to
    SSB_q = Σ_h (s_h² div c_h) — truncating integer div, so the
    24-term sum is ORDER-FREE exact (a float Σ s_h²/c_h would hash
    differently per engine's summation order) — and
    strength = (SSB_q − sx² div n) / (Σx² − sx² div n). The synthetic
    traffic is honestly non-seasonal (strength ≈ 23/n, shrinking with
    scale exactly as noise should); the property test plants a strong
    hourly signal and the metric reads > 0.9.

    Plan: two partial-aggregable hash aggs (per (type, hour) and per
    type) joined on the 5-row type grain — no windows, no second fact
    scan beyond the rollups. s_h² stays in BIGINT through ~1e9-cent
    hour-buckets (≈ sf10); beyond that the quantization unit would
    move to decicents."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        (F.expr("(unix_micros(ts) div 1000000 div 3600) % 24")).alias(
            "hod"
        ),
        F.round(F.col("value") * 100).cast("long").alias("x"),
    )
    return _seasonal_strength_report(ev)


def _seasonal_strength_report(ev: DataFrame) -> DataFrame:
    """Seasonal-strength core over a (event_type, hod, x) frame —
    factored so property tests can plant synthetic seasonal signals
    (tests/test_round10_ops.py). See q_events_seasonal_strength."""
    h = ev.groupBy("event_type", "hod").agg(
        F.sum("x").alias("sh"), F.count(F.lit(1)).alias("ch")
    )
    ssb = h.groupBy("event_type").agg(
        F.sum(F.expr("sh * sh div ch")).alias("ssb_q"),
        F.count(F.lit(1)).alias("n_hours"),
    )
    tot = ev.groupBy("event_type").agg(
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.count(F.lit(1)).alias("n"),
    )
    j = tot.join(ssb, "event_type")
    mean_sq = F.expr("sx * sx div n")
    sst = F.col("sxx") - mean_sq
    return j.select(
        "event_type",
        "n",
        "n_hours",
        (F.col("ssb_q") - mean_sq).alias("ssb"),
        sst.alias("sst"),
        (
            (F.col("ssb_q") - mean_sq).cast("double")
            / F.nullif(sst, F.lit(0))
        ).alias("strength"),
    )


_EVENTS_SEASONAL_STRENGTH_ORACLE = """
WITH ev AS (
  SELECT event_type,
         (epoch_us(ts) // 1000000 // 3600) % 24 AS hod,
         CAST(round(value * 100) AS BIGINT) AS x
  FROM events
), h AS (
  SELECT event_type, hod, CAST(sum(x) AS BIGINT) AS sh,
         CAST(count(*) AS BIGINT) AS ch
  FROM ev GROUP BY 1, 2
), ssb AS (
  SELECT event_type, CAST(sum(sh * sh // ch) AS BIGINT) AS ssb_q,
         CAST(count(*) AS BIGINT) AS n_hours
  FROM h GROUP BY 1
), tot AS (
  SELECT event_type, CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(count(*) AS BIGINT) AS n
  FROM ev GROUP BY 1
)
SELECT event_type, n, n_hours,
       CAST(ssb_q - (sx * sx // n) AS BIGINT) AS ssb,
       CAST(sxx - (sx * sx // n) AS BIGINT) AS sst,
       CAST(ssb_q - (sx * sx // n) AS DOUBLE)
         / nullif(sxx - (sx * sx // n), 0) AS strength
FROM tot JOIN ssb USING (event_type)
"""


def q_part_qty_topk_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O10 — top-k WITH TIES (ANSI FETCH FIRST 10 ROWS WITH TIES): the
    parts with the 10 broadest supplier coverage (distinct suppliers
    shipping the part), INCLUDING every part tied with the 10th —
    small-integer distinct counts make boundary ties real at EVERY SF
    (124/13/15 rows at sf 0.001/0.01/0.1), so the result honestly
    differs from a bare LIMIT 10. The scalable form avoids the global
    rank window entirely: TakeOrdered finds the 10th-largest value,
    that 1-row threshold broadcasts back as a semi-filter, and
    dense_rank runs only on the tiny surviving set.

    Scale: one partial-aggregable distinct rollup to part grain, a
    TakeOrdered top-10 (driver cost O(10)), a broadcast scalar filter —
    no unpartitioned window over the part domain."""
    cov = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(F.countDistinct("l_suppkey").alias("n_suppliers"))
    ).localCheckpoint(eager=True)
    kth = (
        cov.orderBy(F.desc("n_suppliers"), "l_partkey")
        .limit(10)
        .agg(F.min("n_suppliers").alias("cut"))
    )
    from pyspark.sql import Window

    survivors = cov.join(
        F.broadcast(kth), F.col("n_suppliers") >= F.col("cut")
    ).drop("cut")
    w = Window.orderBy(F.desc("n_suppliers"))
    # dense_rank over the bounded survivor set only (10 + ties rows)
    return survivors.select(
        "l_partkey",
        "n_suppliers",
        F.dense_rank().over(w).cast("long").alias("cov_rank"),
    )


_PART_QTY_TOPK_TIES_ORACLE = """
WITH cov AS (
  SELECT l_partkey, CAST(count(DISTINCT l_suppkey) AS BIGINT)
           AS n_suppliers
  FROM lineitem GROUP BY 1
), cut AS (
  SELECT min(n_suppliers) AS c FROM (
    SELECT n_suppliers FROM cov
    ORDER BY n_suppliers DESC, l_partkey LIMIT 10)
)
SELECT l_partkey, n_suppliers,
       CAST(dense_rank() OVER (ORDER BY n_suppliers DESC) AS BIGINT)
         AS cov_rank
FROM cov, cut WHERE n_suppliers >= c
"""


def q_purchase_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G11 — HITS hubs & authorities on the bipartite purchase graph
    (customer --buys-from--> supplier, one distinct edge per pair from
    orders ⋈ lineitem): hub customers are those buying from
    authoritative suppliers and vice versa — the classic mutually-
    recursive centrality, here as a supplier-importance /
    whale-customer signal. Four iterations of the BIGINT fixed-point
    machinery (operators/graph.hits_fixed_point, the pagerank idiom:
    integer gathers + `div`-rescale instead of an L2 norm) make every
    score bit-identical across engines; the oracle replays the same
    eight gathers as chained CTEs. Top-20 per side, deterministic
    tie-break on node id.

    Scale: the edge build is one distinct rollup off the orders ⋈
    lineitem join (partial-aggregable), MEMOIZED per corpus as an eager
    localCheckpoint (graph.purchase_edges — the coactivity_edges /
    ANN-codebook corpus-state lifecycle; bench.py reports the one-time
    build as purchase_hits_train); each half-iteration broadcasts the
    |V|-row score vector into the checkpointed edge list — no edge
    shuffle. See graph.py for the past-broadcast-threshold plan."""
    from floatchat_datapipeline_spark.operators.graph import (
        hits_fixed_point,
        purchase_edges,
    )
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    edges = purchase_edges(
        orders, li, cache_key=f"{sf_dir}/purchase-edges"
    )
    scores = hits_fixed_point(edges, iters=4, pre_checkpointed=True)
    w = Window.partitionBy("side").orderBy(F.desc("units"), "node")
    return (
        scores.withColumn(
            "rnk", F.row_number().over(w).cast("long")
        )
        .filter(F.col("rnk") <= 20)
        .select("side", "node", "units", "rnk")
        .orderBy("side", "rnk")
    )


def _hits_oracle(iters: int = 4, scale: int = 10**12) -> str:
    # every chained CTE is MATERIALIZED: each level is referenced twice
    # (once for its rows, once for its Σu rescale total), and DuckDB's
    # default CTE inlining would re-evaluate the whole chain per
    # reference — exponential in the iteration count.
    head = f"""
WITH edges AS MATERIALIZED (
  SELECT DISTINCT o.o_custkey AS src, l.l_suppkey AS dst
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
), hubs AS MATERIALIZED (
  SELECT DISTINCT src AS node FROM edges
), h0 AS MATERIALIZED (
  SELECT node,
         CAST({scale} // (SELECT count(*) FROM hubs) AS BIGINT) AS u
  FROM hubs
)"""
    steps = []
    for i in range(1, iters + 1):
        steps.append(f""", a{i}r AS MATERIALIZED (
  SELECT e.dst AS node, CAST(sum(h.u) AS BIGINT) AS u
  FROM edges e JOIN h{i - 1} h ON h.node = e.src GROUP BY 1
), a{i} AS MATERIALIZED (
  SELECT node, CAST(u // greatest(1, (SELECT CAST(sum(u) AS BIGINT)
    FROM a{i}r) // {scale}) AS BIGINT) AS u
  FROM a{i}r
), h{i}r AS MATERIALIZED (
  SELECT e.src AS node, CAST(sum(a.u) AS BIGINT) AS u
  FROM edges e JOIN a{i} a ON a.node = e.dst GROUP BY 1
), h{i} AS MATERIALIZED (
  SELECT node, CAST(u // greatest(1, (SELECT CAST(sum(u) AS BIGINT)
    FROM h{i}r) // {scale}) AS BIGINT) AS u
  FROM h{i}r
)""")
    tail = f"""
SELECT side, node, units, rnk FROM (
  SELECT side, node, units,
         CAST(row_number() OVER (
           PARTITION BY side ORDER BY units DESC, node) AS BIGINT) AS rnk
  FROM (
    SELECT 'auth' AS side, node, u AS units FROM a{iters}
    UNION ALL
    SELECT 'hub' AS side, node, u AS units FROM h{iters})
) WHERE rnk <= 20
ORDER BY side, rnk
"""
    return head + "".join(steps) + tail


_PURCHASE_HITS_ORACLE = _hits_oracle()


def q_events_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A59 — one-way ANOVA F test per event type: the PARAMETRIC twin
    of A58's Kruskal–Wallis, over the same three synthetic variants
    (user_id % 3). All moment sums are exact BIGINTs on the 1-cent
    grid (Σv per group ≤ ~3.3e8 at sf0.1, Σv² ≤ ~4e14 — 2^63-safe to
    ~10^5× this scale; past that, widen the sums to decimal(38,0));
    the F statistic is ONE fixed double tree over those integer
    scalars, rounded 1e-9, mirrored verbatim in the oracle.
    Significance gates at the χ²-limit F(2, ∞) 95th-percentile 2.9957
    — the identical variants honestly never fire, and the property
    test (tests/test_round10_ops.py) proves a shifted group does,
    matching a numpy brute force within 1e-6.

    Plan: one partial-aggregable hash agg over the fact table — no
    window, no second shuffle (the A58 shape minus its rank window)."""
    ev = load_table(spark, sf_dir, "events")
    v = F.round(F.col("value") * 100).cast("long")
    g = ev.groupBy("event_type").agg(
        *[
            F.sum(
                F.when(F.col("user_id") % 3 == j, F.lit(1)).otherwise(
                    F.lit(0)
                )
            ).alias(f"n{j}")
            for j in (0, 1, 2)
        ],
        *[
            F.sum(
                F.when(F.col("user_id") % 3 == j, v).otherwise(F.lit(0))
            ).alias(f"s{j}")
            for j in (0, 1, 2)
        ],
        F.sum(v * v).alias("q"),
    )
    return _anova_f_report(g)


def _anova_f_report(g: DataFrame) -> DataFrame:
    """ANOVA F core over a (event_type, n0..n2, s0..s2, q) moment
    frame — factored so property tests can feed synthetic shifted
    groups. See q_events_anova_f."""
    n = F.col("n0") + F.col("n1") + F.col("n2")
    t = F.col("s0") + F.col("s1") + F.col("s2")
    # Degenerate moment rows make a zero divisor somewhere in F: an
    # empty variant (s_j²/n_j), one observation per variant (n−3), or
    # zero within-group variance (ssw). Under this session's default
    # ANSI mode Spark ABORTS the whole query with DIVIDE_BY_ZERO on any
    # of them (double division included — verified live), while DuckDB
    # yields an inf/NaN that orders above the threshold and reports a
    # meaningless significant=true. The round-12 fix NULLed the
    # statistic through SEQUENTIAL CaseWhen branches whose ORDER was
    # load-bearing (the empty-variant test gated ssw's own divisions) —
    # a silent refactor hazard. Round 13 makes every divisor
    # structurally safe instead: try_divide yields NULL on a zero
    # divisor and the NULL propagates through the whole statistic tree,
    # so NO branch ordering exists to get wrong. Identical output:
    # empty variant → between is NULL → f NULL; n = 3 → inner
    # try_divide by 0 → NULL; ssw = 0 → the outer denominator is 0 →
    # NULL. Non-degenerate rows divide normally (try_divide ≡ / when
    # the divisor is nonzero).
    between = sum(
        F.try_divide(
            F.col(f"s{j}").cast("double") * F.col(f"s{j}"), F.col(f"n{j}")
        )
        for j in (0, 1, 2)
    )
    ssb = between - F.try_divide(t.cast("double") * t, n)
    ssw = F.col("q").cast("double") - between
    f_stat = F.round(
        F.try_divide(
            ssb / F.lit(2.0), F.try_divide(ssw, n - F.lit(3))
        ),
        9,
    )
    return g.select(
        "event_type",
        "n0",
        "n1",
        "n2",
        f_stat.alias("f_stat"),
        # NULL f_stat propagates through > to a NULL boolean in both
        # engines — no second CASE needed.
        (f_stat > F.lit(2.9957)).alias("significant"),
    ).orderBy("event_type")


_EVENTS_ANOVA_F_ORACLE = """
WITH g AS (
  SELECT event_type,
         CAST(sum(CASE WHEN user_id % 3 = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS n0,
         CAST(sum(CASE WHEN user_id % 3 = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS n1,
         CAST(sum(CASE WHEN user_id % 3 = 2 THEN 1 ELSE 0 END)
              AS BIGINT) AS n2,
         CAST(sum(CASE WHEN user_id % 3 = 0
              THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
              AS BIGINT) AS s0,
         CAST(sum(CASE WHEN user_id % 3 = 1
              THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
              AS BIGINT) AS s1,
         CAST(sum(CASE WHEN user_id % 3 = 2
              THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
              AS BIGINT) AS s2,
         CAST(sum(CAST(round(value * 100) AS BIGINT)
              * CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS q
  FROM events GROUP BY 1
), o AS (
  SELECT event_type, n0, n1, n2,
         CASE WHEN n0 = 0 OR n1 = 0 OR n2 = 0 THEN NULL
         WHEN n0 + n1 + n2 = 3 THEN NULL
         WHEN CAST(q AS DOUBLE)
              - ((CAST(s0 AS DOUBLE) * s0) / n0
                 + (CAST(s1 AS DOUBLE) * s1) / n1
                 + (CAST(s2 AS DOUBLE) * s2) / n2) = 0 THEN NULL
         ELSE round(
           (((CAST(s0 AS DOUBLE) * s0) / n0
             + (CAST(s1 AS DOUBLE) * s1) / n1
             + (CAST(s2 AS DOUBLE) * s2) / n2
             - (CAST(s0 + s1 + s2 AS DOUBLE) * (s0 + s1 + s2))
               / (n0 + n1 + n2)) / 2e0)
           / ((CAST(q AS DOUBLE)
               - ((CAST(s0 AS DOUBLE) * s0) / n0
                  + (CAST(s1 AS DOUBLE) * s1) / n1
                  + (CAST(s2 AS DOUBLE) * s2) / n2))
              / (n0 + n1 + n2 - 3)), 9) END AS f_stat
  FROM g
)
SELECT event_type, n0, n1, n2, f_stat,
       (f_stat > 2.9957e0) AS significant
FROM o ORDER BY event_type
"""


def q_events_discord(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS29 — time-series discord discovery (matrix-profile style) on
    the densified hourly count series: per event type, every 24-hour
    window's nearest-neighbor squared Euclidean distance among
    non-overlapping windows (|Δstart| ≥ 24, the trivial-match
    exclusion), top-3 windows by that distance = the subsequences LEAST
    like anything else in the month — the canonical shape-anomaly
    primitive. Everything is exact BIGINT (integer counts on a
    zero-filled spine; dist² = Σ(aₖ−bₖ)² folded in index order), so the
    brute-force oracle matches bit-for-bit with zero float parity risk.

    Scale: the only fact shuffle is the hourly rollup; the all-pairs
    self-join runs on the WALL-CLOCK-BOUNDED window spine (720 anchors/
    month regardless of row volume — ~240k pairs/type·month), the same
    spine argument as TS25. For multi-year spines, band the join on
    coarse time blocks and keep per-band top-k candidates (the SNM
    pattern); the per-pair fold is 24 integer ops, JVM-side."""
    from floatchat_datapipeline_spark.functions.eventtime import (
        epoch_micros,
        long_div,
    )
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        long_div(epoch_micros(F.col("ts")), 3_600_000_000).alias("h"),
    ).agg(F.count(F.lit(1)).alias("c"))
    bounds = hourly.agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    spine = (
        hourly.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(F.sequence("h0", "h1")).alias("h"),
        )
    )
    dense = spine.join(hourly, ["event_type", "h"], "left").select(
        "event_type", "h", F.coalesce("c", F.lit(0)).alias("c")
    )
    return _discord_report(dense)


def _discord_report(
    dense: DataFrame, window: int = 24, k: int = 3
) -> DataFrame:
    """Discord core over a dense (event_type, h, c) hourly series —
    factored so property tests can feed a planted-anomaly series.
    See q_events_discord."""
    from pyspark.sql import Window

    wf = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(0, window - 1)
    )
    win = (
        dense.withColumn("v", F.collect_list("c").over(wf))
        .filter(F.size("v") == window)
        .select("event_type", "h", "v")
        .localCheckpoint(eager=True)  # two self-join consumers
    )
    b = win.select(
        F.col("event_type").alias("et2"),
        F.col("h").alias("h2"),
        F.col("v").alias("v2"),
    )
    # Unrolled Σ(aₖ−bₖ)²: HOF folds (zip_with + aggregate) never enter
    # whole-stage codegen, so at ~1.2M candidate pairs the interpreted
    # fold dominated the query (guide §4.1 — prefer builtin expression
    # trees; same associativity/order, bit-identical BIGINT sum).
    dist2 = None
    for i in range(1, window + 1):
        d = F.element_at("v", i) - F.element_at("v2", i)
        term = d * d
        dist2 = term if dist2 is None else dist2 + term
    nn = (
        win.join(
            b,
            (F.col("event_type") == F.col("et2"))
            & (F.abs(F.col("h") - F.col("h2")) >= window),
        )
        .groupBy("event_type", "h")
        .agg(F.min(dist2).alias("nn_dist2"))
    )
    w = Window.partitionBy("event_type").orderBy(
        F.desc("nn_dist2"), "h"
    )
    return (
        nn.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select(
            "event_type",
            F.col("h").alias("window_h"),
            "nn_dist2",
            "rnk",
        )
        .orderBy("event_type", "rnk")
    )


_EVENTS_DISCORD_ORACLE = """
WITH bounds AS (
  SELECT CAST(min(epoch_us(ts) // 3600000000) AS BIGINT) AS h0,
         CAST(max(epoch_us(ts) // 3600000000) AS BIGINT) AS h1
  FROM events
), spine AS (
  SELECT t.event_type, g.h
  FROM (SELECT DISTINCT event_type FROM events) t
  CROSS JOIN (SELECT unnest(range(h0, h1 + 1)) AS h FROM bounds) g
), hc AS (
  SELECT s.event_type, s.h, CAST(coalesce(e.c, 0) AS BIGINT) AS c
  FROM spine s LEFT JOIN (
    SELECT event_type, epoch_us(ts) // 3600000000 AS h, count(*) AS c
    FROM events GROUP BY 1, 2) e
  ON s.event_type = e.event_type AND s.h = e.h
), win AS (
  SELECT event_type, h,
         list(c) OVER (
           PARTITION BY event_type ORDER BY h
           ROWS BETWEEN CURRENT ROW AND 23 FOLLOWING) AS v
  FROM hc
  QUALIFY len(v) = 24
), nn AS (
  SELECT a.event_type, a.h,
         CAST(min(list_sum(list_transform(range(1, 25),
             i -> (a.v[i] - b.v[i]) * (a.v[i] - b.v[i])))) AS BIGINT)
           AS nn_dist2
  FROM win a JOIN win b
    ON a.event_type = b.event_type AND abs(a.h - b.h) >= 24
  GROUP BY 1, 2
)
SELECT event_type, window_h, nn_dist2, rnk FROM (
  SELECT event_type, h AS window_h, nn_dist2,
         CAST(row_number() OVER (
           PARTITION BY event_type ORDER BY nn_dist2 DESC, h)
           AS BIGINT) AS rnk
  FROM nn)
WHERE rnk <= 3
ORDER BY event_type, rnk
"""


def q_events_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A60 — Jensen–Shannon divergence between the first and second
    half of the month per event type, on a fixed 50-unit cent-grid
    binning: the symmetric, bounded ([0, ln 2]) drift statistic that
    complements A29's TVD/PSI and A39's KS. Parity machinery: bin
    counts are exact BIGINTs; each bin's JSD contribution is ONE fixed
    double tree over those integers (p·ln(2p/(p+q)) form, CASE-guarded
    so ln never sees 0), quantized to 1e-9 BEFORE the cross-bin sum —
    so the only cross-row float reduction is an exact integer sum,
    order-free under any shuffle (the L27 quantize-before-aggregate
    rule; engine ln()s agree far below the 1e-9 grid).

    Plan: one partial-aggregable hash agg to the (type, bin) domain
    (bins ≤ ~12 per type), one per-type rollup — no window, no second
    fact pass."""
    from floatchat_datapipeline_spark.functions.eventtime import (
        epoch_micros,
        long_div,
    )

    ev = load_table(spark, sf_dir, "events")
    h = long_div(epoch_micros(F.col("ts")), 3_600_000_000)
    binned = ev.select(
        "event_type",
        h.alias("h"),
        F.expr(
            "CAST(round(value * 100) AS BIGINT) div 5000"
        ).alias("bin"),
    )
    bounds = binned.agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    g = (
        binned.crossJoin(F.broadcast(bounds))
        .withColumn(
            "late",
            (
                F.col("h")
                >= (F.col("h0") + F.col("h1") + 1) / F.lit(2)
            ).cast("long"),
        )
        .groupBy("event_type", "bin")
        .agg(
            F.sum(F.lit(1) - F.col("late")).alias("c1"),
            F.sum("late").alias("c2"),
        )
    )
    tot = g.groupBy("event_type").agg(
        F.sum("c1").alias("n1"), F.sum("c2").alias("n2")
    )
    p = F.col("c1").cast("double") / F.col("n1")
    q = F.col("c2").cast("double") / F.col("n2")
    term = lambda a, b, c: F.when(  # noqa: E731
        c > 0, a * F.log(F.lit(2.0) * a / (a + b))
    ).otherwise(F.lit(0.0))
    contrib = F.lit(0.5) * term(p, q, F.col("c1")) + F.lit(0.5) * term(
        q, p, F.col("c2")
    )
    # Degenerate guard (lazy CaseWhen, q_events_anova_f pattern): when
    # an entire half-month is empty (n1 or n2 = 0, e.g. every event on
    # one timestamp) the JSD against an empty distribution is undefined
    # — the p/q divisions inside `contrib` never run and the per-bin
    # contribution is NULL, which nulls the per-type sum and `jsd`.
    # Mirrored CASE in the oracle.
    per_bin = g.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "n1",
        "n2",
        F.when(
            (F.col("n1") != F.lit(0)) & (F.col("n2") != F.lit(0)),
            F.round(contrib * 1e9, 0).cast("long"),
        ).alias("cn"),
        ((F.col("c1") + F.col("c2")) > 0).cast("long").alias("nb"),
    )
    return (
        per_bin.groupBy("event_type", "n1", "n2")
        .agg(
            F.sum("nb").alias("n_bins"),
            F.sum("cn").alias("jsd_nanos"),
        )
        .select(
            "event_type",
            "n1",
            "n2",
            "n_bins",
            "jsd_nanos",
            (F.col("jsd_nanos") / F.lit(1e9)).alias("jsd"),
        )
        .orderBy("event_type")
    )


_EVENTS_JS_DIVERGENCE_ORACLE = """
WITH binned AS (
  SELECT event_type,
         epoch_us(ts) // 3600000000 AS h,
         CAST(round(value * 100) AS BIGINT) // 5000 AS bin
  FROM events
), bounds AS (
  SELECT min(h) AS h0, max(h) AS h1 FROM binned
), g AS (
  SELECT event_type, bin,
         CAST(sum(CASE WHEN h >= (h0 + h1 + 1) / 2 THEN 0 ELSE 1 END)
              AS BIGINT) AS c1,
         CAST(sum(CASE WHEN h >= (h0 + h1 + 1) / 2 THEN 1 ELSE 0 END)
              AS BIGINT) AS c2
  FROM binned, bounds GROUP BY 1, 2
), tot AS (
  SELECT event_type, CAST(sum(c1) AS BIGINT) AS n1,
         CAST(sum(c2) AS BIGINT) AS n2
  FROM g GROUP BY 1
), per_bin AS (
  SELECT g.event_type, n1, n2,
         CASE WHEN n1 = 0 OR n2 = 0 THEN NULL
         ELSE CAST(round(
           (0.5e0 * (CASE WHEN c1 > 0 THEN
              (CAST(c1 AS DOUBLE) / n1)
              * ln(2e0 * (CAST(c1 AS DOUBLE) / n1)
                   / ((CAST(c1 AS DOUBLE) / n1)
                      + (CAST(c2 AS DOUBLE) / n2)))
              ELSE 0e0 END)
            + 0.5e0 * (CASE WHEN c2 > 0 THEN
              (CAST(c2 AS DOUBLE) / n2)
              * ln(2e0 * (CAST(c2 AS DOUBLE) / n2)
                   / ((CAST(c2 AS DOUBLE) / n2)
                      + (CAST(c1 AS DOUBLE) / n1)))
              ELSE 0e0 END)) * 1e9, 0) AS BIGINT) END AS cn,
         CASE WHEN c1 + c2 > 0 THEN 1 ELSE 0 END AS nb
  FROM g JOIN tot ON g.event_type = tot.event_type
)
SELECT event_type, n1, n2,
       CAST(sum(nb) AS BIGINT) AS n_bins,
       CAST(sum(cn) AS BIGINT) AS jsd_nanos,
       CAST(sum(cn) AS BIGINT) / 1e9 AS jsd
FROM per_bin GROUP BY 1, 2, 3 ORDER BY event_type
"""


def q_events_jackknife_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A61 — delete-one-group jackknife CI for the mean event value
    per event type, over G = 20 user-hash buckets (user_id % 20 — the
    resampling unit is the USER bucket, respecting within-user
    correlation the way a grouped bootstrap would). Machinery: bucket
    moment sums are exact BIGINTs; each leave-one-out mean θ_j is one
    double division quantized to 1e-9 BIGINT "nanos"; the jackknife
    variance (G−1)·(G·Σt² − (Σt)²)/(G²·10¹⁸) keeps Σt² exact in
    DECIMAL(38,0) (t ≤ ~2e13 → t² ≤ 4e26, 2^63-unsafe but 38-digit-
    safe; DuckDB mirrors in HUGEINT), so the only float ops are the
    final sqrt/± trees, rounded 1e-9. The 1.96 CI is the textbook
    normal approximation; bias_jack = (G−1)(θ̄₍·₎ − θ̂).

    Plan: one partial-aggregable hash agg to (type, bucket) [≤ 20 rows
    per type], a broadcast join of per-type totals, one 20-row rollup."""
    ev = load_table(spark, sf_dir, "events")
    v = F.round(F.col("value") * 100).cast("long")
    byb = ev.groupBy(
        "event_type", (F.col("user_id") % 20).alias("j")
    ).agg(F.count(F.lit(1)).alias("nj"), F.sum(v).alias("sj"))
    tot = byb.groupBy("event_type").agg(
        F.sum("nj").alias("n"), F.sum("sj").alias("s")
    )
    theta_j = (F.col("s") - F.col("sj")).cast("double") / F.greatest(
        F.col("n") - F.col("nj"), F.lit(1)
    )
    t = F.round(theta_j * 1e9, 0).cast("long")
    per = byb.join(F.broadcast(tot), "event_type").select(
        "event_type", "n", "s", t.alias("t")
    )
    td = F.col("t").cast("decimal(20,0)")
    agg = per.groupBy("event_type", "n", "s").agg(
        F.count(F.lit(1)).alias("g"),
        F.sum(td).alias("st"),
        F.sum(td * td).alias("st2"),
    )
    gc = F.col("g").cast("decimal(20,0)")
    num = (gc * F.col("st2") - F.col("st") * F.col("st")).cast("double")
    var = (
        (F.col("g") - F.lit(1)).cast("double")
        * num
        / (F.col("g") * F.col("g"))
        / F.lit(1e18)
    )
    se = F.sqrt(var)
    theta_hat = F.col("s").cast("double") / F.col("n")
    bias = (F.col("g") - F.lit(1)).cast("double") * (
        F.col("st").cast("double") / (F.col("g") * F.lit(1e9))
        - theta_hat
    )
    return agg.select(
        "event_type",
        "n",
        "g",
        F.round(theta_hat, 9).alias("theta_hat"),
        F.round(se, 9).alias("se_jack"),
        F.round(theta_hat - F.lit(1.96) * se, 9).alias("ci_lo"),
        F.round(theta_hat + F.lit(1.96) * se, 9).alias("ci_hi"),
        F.round(bias, 9).alias("bias_jack"),
    ).orderBy("event_type")


_EVENTS_JACKKNIFE_CI_ORACLE = """
WITH byb AS (
  SELECT event_type, user_id % 20 AS j,
         CAST(count(*) AS BIGINT) AS nj,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sj
  FROM events GROUP BY 1, 2
), tot AS (
  SELECT event_type, CAST(sum(nj) AS BIGINT) AS n,
         CAST(sum(sj) AS BIGINT) AS s
  FROM byb GROUP BY 1
), per AS (
  SELECT b.event_type, n, s,
         CAST(round((CAST(s - sj AS DOUBLE)
                     / greatest(n - nj, 1)) * 1e9, 0) AS BIGINT) AS t
  FROM byb b JOIN tot USING (event_type)
), agg AS (
  SELECT event_type, n, s,
         CAST(count(*) AS BIGINT) AS g,
         CAST(sum(CAST(t AS HUGEINT)) AS HUGEINT) AS st,
         CAST(sum(CAST(t AS HUGEINT) * t) AS HUGEINT) AS st2
  FROM per GROUP BY 1, 2, 3
), o AS (
  SELECT event_type, n, g,
         CAST(s AS DOUBLE) / n AS theta_hat,
         sqrt(CAST(g - 1 AS DOUBLE)
              * CAST(g * st2 - st * st AS DOUBLE)
              / (g * g) / 1e18) AS se,
         CAST(g - 1 AS DOUBLE)
           * (CAST(st AS DOUBLE) / (g * 1e9)
              - CAST(s AS DOUBLE) / n) AS bias
  FROM agg
)
SELECT event_type, n, g,
       round(theta_hat, 9) AS theta_hat,
       round(se, 9) AS se_jack,
       round(theta_hat - 1.96e0 * se, 9) AS ci_lo,
       round(theta_hat + 1.96e0 * se, 9) AS ci_hi,
       round(bias, 9) AS bias_jack
FROM o ORDER BY event_type
"""


def q_events_hurst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS30 — Hurst exponent per event type by the aggregated-variance
    method: variance of block means of the zero-filled hourly count
    series at block sizes m ∈ {1, 2, 4, 8, 16}, OLS slope of
    ln Var(m) on ln m, H = 1 + slope/2. White/Poisson traffic gives
    slope ≈ −1 → H ≈ 0.5 (this generator's honest reading — the
    property test plants a long-range trend and reads H → 1). Parity:
    block sums and the variance numerator (nb·Σs² − (Σs)²) are exact
    BIGINTs; ln() outputs quantize to 1e-6 BIGINT units BEFORE the
    five-point OLS (the L27 zipf rule), whose normal equations stay
    integral; only the final slope division and H tree are doubles.
    Zero-variance scales are filtered before ln on both engines
    (DuckDB errors on ln(0)).

    Plan: one hourly rollup is the only fact shuffle; blocks, scales
    and the OLS all live on the wall-clock-bounded spine (720 × 5
    rows/month), re-aggregated per scale without a second fact pass."""
    from floatchat_datapipeline_spark.functions.eventtime import (
        epoch_micros,
        long_div,
    )

    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        long_div(epoch_micros(F.col("ts")), 3_600_000_000).alias("h"),
    ).agg(F.count(F.lit(1)).alias("c"))
    bounds = hourly.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    spine = (
        hourly.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(F.sequence("h0", "h1")).alias("h"),
            "h0",
        )
    )
    dense = spine.join(hourly, ["event_type", "h"], "left").select(
        "event_type",
        (F.col("h") - F.col("h0")).alias("hx"),
        F.coalesce("c", F.lit(0)).alias("c"),
    )
    return _hurst_from_dense(spark, dense)


def _hurst_from_dense(spark: SparkSession, dense: DataFrame) -> DataFrame:
    """Aggregated-variance Hurst over a dense (event_type, hx, c)
    series — factored so property tests can feed planted-trend and
    white-noise series. See q_events_hurst."""
    scales = spark.range(5).select(
        F.expr("shiftleft(1L, CAST(id AS INT))").alias("m")
    )
    blocks = (
        dense.crossJoin(F.broadcast(scales))
        .groupBy(
            "event_type", "m", F.expr("hx div m").alias("blk")
        )
        .agg(F.sum("c").alias("s"), F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") == F.col("m"))  # complete blocks only
    )
    per_scale = blocks.groupBy("event_type", "m").agg(
        F.count(F.lit(1)).alias("nb"),
        F.sum("s").alias("ss"),
        F.sum(F.col("s") * F.col("s")).alias("ss2"),
    )
    vm = (
        F.col("nb") * F.col("ss2") - F.col("ss") * F.col("ss")
    ).cast("double") / (
        F.col("nb") * F.col("nb") * F.col("m") * F.col("m")
    )
    pts = per_scale.filter(
        (F.col("nb") * F.col("ss2") - F.col("ss") * F.col("ss")) > 0
    ).select(
        "event_type",
        F.round(F.log(F.col("m").cast("double")) * 1_000_000)
        .cast("long")
        .alias("x"),
        F.round(F.log(vm) * 1_000_000).cast("long").alias("y"),
    )
    return _hurst_ols(pts)


def _hurst_ols(pts: DataFrame) -> DataFrame:
    """Five-point quantized-log OLS → Hurst — factored so property
    tests can feed planted-trend series. See q_events_hurst."""
    n = F.count(F.lit(1))
    sx, sy = F.sum("x"), F.sum("y")
    sxy = F.sum(F.col("x") * F.col("y"))
    sxx = F.sum(F.col("x") * F.col("x"))
    agg = pts.groupBy("event_type").agg(
        n.alias("n_scales"),
        (n * sxy - sx * sy).alias("num"),
        (n * sxx - sx * sx).alias("d1"),
    )
    # Degenerate guard (lazy CaseWhen, q_events_anova_f pattern): if
    # only ONE scale survives the positive-variance filter, the OLS
    # divisor d1 = n·sxx − sx² is 0 — a one-point line has no slope, so
    # NULL the estimate instead of aborting under ANSI mode. Mirrored
    # CASE in the oracle.
    slope = F.when(
        F.col("d1") != F.lit(0),
        F.col("num").cast("double") / F.col("d1"),
    )
    return agg.select(
        "event_type",
        "n_scales",
        F.round(slope, 9).alias("var_slope"),
        F.round(F.lit(1.0) + slope / F.lit(2.0), 9).alias("hurst"),
    ).orderBy("event_type")


_EVENTS_HURST_ORACLE = """
WITH hourly AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS h,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
), bounds AS (
  SELECT min(h) AS h0, max(h) AS h1 FROM hourly
), dense AS (
  SELECT t.event_type, g.h - b.h0 AS hx,
         CAST(coalesce(e.c, 0) AS BIGINT) AS c
  FROM (SELECT DISTINCT event_type FROM hourly) t
  CROSS JOIN bounds b
  CROSS JOIN (SELECT unnest(range(h0, h1 + 1)) AS h FROM bounds) g
  LEFT JOIN hourly e ON t.event_type = e.event_type AND g.h = e.h
), blocks AS (
  SELECT event_type, m, hx // m AS blk,
         CAST(sum(c) AS BIGINT) AS s, count(*) AS cnt
  FROM dense CROSS JOIN (
    SELECT unnest([1, 2, 4, 8, 16]) AS m)
  GROUP BY 1, 2, 3
  HAVING count(*) = m
), per_scale AS (
  SELECT event_type, m, CAST(count(*) AS BIGINT) AS nb,
         CAST(sum(s) AS BIGINT) AS ss,
         CAST(sum(s * s) AS BIGINT) AS ss2
  FROM blocks GROUP BY 1, 2
), pts AS (
  SELECT event_type,
         CAST(round(ln(CAST(m AS DOUBLE)) * 1000000) AS BIGINT) AS x,
         CAST(round(ln(CAST(nb * ss2 - ss * ss AS DOUBLE)
                       / (nb * nb * m * m)) * 1000000) AS BIGINT) AS y
  FROM per_scale WHERE nb * ss2 - ss * ss > 0
), agg AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_scales,
         CAST(count(*) * sum(x * y) - sum(x) * sum(y) AS BIGINT) AS num,
         CAST(count(*) * sum(x * x) - sum(x) * sum(x) AS BIGINT) AS d1
  FROM pts GROUP BY 1
)
SELECT event_type, n_scales,
       CASE WHEN d1 = 0 THEN NULL
       ELSE round(CAST(num AS DOUBLE) / d1, 9) END AS var_slope,
       CASE WHEN d1 = 0 THEN NULL
       ELSE round(1e0 + (CAST(num AS DOUBLE) / d1) / 2e0, 9) END AS hurst
FROM agg ORDER BY event_type
"""


def q_emb_centroid_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V18 — per-label embedding centroid audit: each label's vector
    count, the cosine of its centroid to the GLOBAL centroid (a
    cluster-drift / label-collapse signal: labels whose centroid hugs
    the global mean carry little contrastive signal), and the mean
    squared distance to the label centroid (within-label dispersion,
    E|x|² − |c|²). The exact-distributed-centroid-algebra pattern:
    components quantize to 1e-6 BIGINT micros at the scan, per-(label,
    dim) sums are exact integers, and the dot/norm reductions over the
    64-dim axis run in DECIMAL(38,0) (DuckDB HUGEINT) so every input
    to the final cosine/sqrt tree is exact — no cross-row float sum
    anywhere. Cosine is scale-invariant, so sums stand in for means.

    Scale: one map-side expand (posexplode) + partial-aggregable hash
    agg to the (label, dim) domain — labels×dims rows, not corpus
    rows; the global-dim frame (64 rows) broadcasts back. Dispersion's
    per-row |x|² folds JVM-side in the same scan."""
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull() & (F.size("embedding") == 64))
        .select(
            "label",
            F.transform(
                "embedding",
                lambda x: F.round(x.cast("double") * 1e6, 0).cast(
                    "long"
                ),
            ).alias("mic"),
        )
        .withColumn(
            "rowsq",
            F.aggregate(
                "mic",
                F.lit(0).cast("long"),
                lambda acc, x: acc + x * x,
            ),
        )
    )
    per_row = emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"), F.sum("rowsq").alias("q")
    )
    ld = (
        emb.select("label", F.posexplode("mic").alias("dim", "m"))
        .groupBy("label", "dim")
        .agg(F.sum("m").alias("s"))
    )
    gd = ld.groupBy("dim").agg(F.sum("s").alias("gs"))
    dec = lambda c: F.col(c).cast("decimal(20,0)")  # noqa: E731
    lab = (
        ld.join(F.broadcast(gd), "dim")
        .groupBy("label")
        .agg(
            F.sum(dec("s") * dec("gs")).alias("dot"),
            F.sum(dec("s") * dec("s")).alias("nl"),
            F.sum(dec("gs") * dec("gs")).alias("ng"),
        )
    )
    # Zero-norm guard (lazy CaseWhen, repo convention): a label whose
    # centroid SUM is the zero vector (e.g. only zeroed embeddings) has
    # no defined cosine to the global centroid — NULL it instead of
    # aborting under ANSI mode. Mirrored CASE in the oracle.
    cos = F.when(
        (F.col("nl") != F.lit(0)) & (F.col("ng") != F.lit(0)),
        F.col("dot").cast("double")
        / (
            F.sqrt(F.col("nl").cast("double"))
            * F.sqrt(F.col("ng").cast("double"))
        ),
    )
    disp = (
        F.col("q").cast("double") / F.col("n_vecs")
        - F.col("nl").cast("double")
        / (F.col("n_vecs") * F.col("n_vecs"))
    ) / F.lit(1e12)
    return (
        lab.join(per_row, "label")
        .select(
            "label",
            "n_vecs",
            F.round(cos, 9).alias("cos_to_global"),
            F.round(disp, 9).alias("dispersion"),
        )
        .orderBy("label")
    )


_EMB_CENTROID_AUDIT_ORACLE = """
WITH base AS (
  SELECT label,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS mic
  FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) = 64
), per_row AS (
  SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
         CAST(sum(list_sum(list_transform(mic, x -> x * x)))
              AS BIGINT) AS q
  FROM base GROUP BY 1
), ld AS (
  SELECT label, g.i AS dim,
         CAST(sum(mic[g.i]) AS BIGINT) AS s
  FROM base, (SELECT unnest(range(1, 65)) AS i) g
  GROUP BY 1, 2
), gd AS (
  SELECT dim, CAST(sum(s) AS BIGINT) AS gs FROM ld GROUP BY 1
), lab AS (
  SELECT label,
         CAST(sum(CAST(s AS HUGEINT) * gs) AS HUGEINT) AS dot,
         CAST(sum(CAST(s AS HUGEINT) * s) AS HUGEINT) AS nl,
         CAST(sum(CAST(gs AS HUGEINT) * gs) AS HUGEINT) AS ng
  FROM ld JOIN gd USING (dim) GROUP BY 1
)
SELECT label, n_vecs,
       CASE WHEN nl = 0 OR ng = 0 THEN NULL
       ELSE round(CAST(dot AS DOUBLE)
             / (sqrt(CAST(nl AS DOUBLE)) * sqrt(CAST(ng AS DOUBLE))),
             9) END AS cos_to_global,
       round((CAST(q AS DOUBLE) / n_vecs
              - CAST(nl AS DOUBLE) / (n_vecs * n_vecs)) / 1e12,
             9) AS dispersion
FROM lab JOIN per_row USING (label) ORDER BY label
"""


def q_events_sax_motifs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS31 — SAX symbolization + motif mining on the densified hourly
    count series: per event type, z-score each hour against the
    series mean/std, map to a 3-symbol Gaussian-breakpoint alphabet
    (a < −0.4307 < b < +0.4307 < c), slide a 4-symbol word over the
    series, and report the top-5 most frequent words — the classic
    symbolic-aggregate motif primitive (recurring daily shapes rise to
    the top; rare words are the discord complement of TS29). Parity:
    μ and σ² derive from exact BIGINT spine sums, every z comparison
    evaluates the SAME two doubles on both engines, and everything
    after symbolization is exact string/count algebra.

    Scale: one hourly rollup is the only fact shuffle; z-scores,
    words, and motif counts all live on the wall-clock-bounded spine
    (the TS29 argument); the word window is an ordered 4-row frame per
    type."""
    from floatchat_datapipeline_spark.functions.eventtime import (
        epoch_micros,
        long_div,
    )
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        long_div(epoch_micros(F.col("ts")), 3_600_000_000).alias("h"),
    ).agg(F.count(F.lit(1)).alias("c"))
    bounds = hourly.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    spine = (
        hourly.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(F.sequence("h0", "h1")).alias("h"),
        )
    )
    dense = spine.join(hourly, ["event_type", "h"], "left").select(
        "event_type", "h", F.coalesce("c", F.lit(0)).alias("c")
    )
    return _sax_from_dense(dense)


def _sax_from_dense(dense: DataFrame) -> DataFrame:
    """SAX symbolize + motif count over a dense (event_type, h, c)
    series — factored so property tests can feed planted-period
    series. See q_events_sax_motifs."""
    from pyspark.sql import Window

    stats = dense.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("nb"),
        F.sum("c").alias("sc"),
        F.sum(F.col("c") * F.col("c")).alias("sc2"),
    )
    mu = F.col("sc").cast("double") / F.col("nb")
    sig = F.sqrt(
        (F.col("nb") * F.col("sc2") - F.col("sc") * F.col("sc")).cast(
            "double"
        )
        / (F.col("nb") * F.col("nb"))
    )
    z = (F.col("c").cast("double") - mu) / sig
    # Degenerate guard (lazy CaseWhen, q_events_anova_f pattern): a
    # CONSTANT series has σ = 0 and every z is conventionally 0 → the
    # middle symbol 'b'; the sequential first branch keeps the z
    # division from ever running on it instead of aborting under ANSI
    # mode. Mirrored branch order in the oracle.
    sym = (
        F.when(sig == F.lit(0.0), F.lit("b"))
        .when(z < F.lit(-0.4307), F.lit("a"))
        .when(z > F.lit(0.4307), F.lit("c"))
        .otherwise(F.lit("b"))
    )
    symbols = dense.join(F.broadcast(stats), "event_type").select(
        "event_type", "h", sym.alias("s")
    )
    wf = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(0, 3)
    )
    words = symbols.withColumn(
        "w", F.concat_ws("", F.collect_list("s").over(wf))
    ).filter(F.length("w") == 4)
    counts = words.groupBy("event_type", "w").agg(
        F.count(F.lit(1)).alias("n_occ")
    )
    rk = Window.partitionBy("event_type").orderBy(
        F.desc("n_occ"), "w"
    )
    return (
        counts.withColumn("rnk", F.row_number().over(rk).cast("long"))
        .filter(F.col("rnk") <= 5)
        .select("event_type", F.col("w").alias("motif"), "n_occ", "rnk")
        .orderBy("event_type", "rnk")
    )


_EVENTS_SAX_MOTIFS_ORACLE = """
WITH hourly AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS h,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
), bounds AS (
  SELECT min(h) AS h0, max(h) AS h1 FROM hourly
), dense AS (
  SELECT t.event_type, g.h, CAST(coalesce(e.c, 0) AS BIGINT) AS c
  FROM (SELECT DISTINCT event_type FROM hourly) t
  CROSS JOIN (SELECT unnest(range(h0, h1 + 1)) AS h FROM bounds) g
  LEFT JOIN hourly e ON t.event_type = e.event_type AND g.h = e.h
), stats AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS nb,
         CAST(sum(c) AS BIGINT) AS sc,
         CAST(sum(c * c) AS BIGINT) AS sc2
  FROM dense GROUP BY 1
), symbols AS (
  SELECT d.event_type, d.h,
         CASE WHEN nb * sc2 - sc * sc = 0 THEN 'b'
              WHEN (CAST(c AS DOUBLE) - CAST(sc AS DOUBLE) / nb)
                   / sqrt(CAST(nb * sc2 - sc * sc AS DOUBLE)
                          / (nb * nb)) < -0.4307e0 THEN 'a'
              WHEN (CAST(c AS DOUBLE) - CAST(sc AS DOUBLE) / nb)
                   / sqrt(CAST(nb * sc2 - sc * sc AS DOUBLE)
                          / (nb * nb)) > 0.4307e0 THEN 'c'
              ELSE 'b' END AS s
  FROM dense d JOIN stats USING (event_type)
), words AS (
  SELECT event_type, h,
         string_agg(s, '') OVER (
           PARTITION BY event_type ORDER BY h
           ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS w
  FROM symbols
  QUALIFY len(w) = 4
), counts AS (
  SELECT event_type, w, CAST(count(*) AS BIGINT) AS n_occ
  FROM words GROUP BY 1, 2
)
SELECT event_type, motif, n_occ, rnk FROM (
  SELECT event_type, w AS motif, n_occ,
         CAST(row_number() OVER (
           PARTITION BY event_type ORDER BY n_occ DESC, w)
           AS BIGINT) AS rnk
  FROM counts)
WHERE rnk <= 5
ORDER BY event_type, rnk
"""


def q_doc_golden_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D15 — survivorship / golden-record construction over the D5
    near-dup clusters (the MDM step AFTER dedup detection: each
    duplicate group elects ONE canonical record by explicit field
    rules). Rules here: canonical = the member with the longest text
    (max n_chars), doc_id ascending as the tiebreak; the group also
    reports its size and distinct-source count (a cross-source dup is
    a provenance red flag). Election runs as ONE max(struct) partial
    agg — no window, no second pass; the struct's (n_chars, −doc_id,
    lang, source) field order IS the precedence order, mirrored by
    DuckDB's lexicographic max(ROW(...)).

    Reuses the memoized D5 component index
    (operators/dedup.dup_components — this is its sixth consumer, one
    closure build per corpus per session); the oracle replays
    connectivity with the shared recursive CTE."""
    from floatchat_datapipeline_spark.operators.dedup import (
        dup_components,
    )

    docs = load_table(spark, sf_dir, "documents")
    comp = dup_components(docs, spark, cache_key=sf_dir)
    members = comp.join(docs, "doc_id")
    elected = members.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.countDistinct("source").alias("n_sources"),
        F.max(
            F.struct(
                F.col("n_chars"),
                (-F.col("doc_id")).alias("neg_id"),
                F.col("lang"),
                F.col("source"),
            )
        ).alias("win"),
    )
    return elected.select(
        "component",
        "n_members",
        "n_sources",
        (-F.col("win.neg_id")).alias("canonical_doc_id"),
        F.col("win.n_chars").alias("canonical_n_chars"),
        F.col("win.lang").alias("canonical_lang"),
        F.col("win.source").alias("canonical_source"),
    ).orderBy("component")


_DOC_GOLDEN_RECORDS_ORACLE = f"""
WITH RECURSIVE {_DUP_COMPONENTS_SQL},
members AS (
  SELECT c.component, d.doc_id, d.n_chars, d.lang, d.source
  FROM comp c JOIN documents d USING (doc_id)
), elected AS (
  SELECT component,
         CAST(count(*) AS BIGINT) AS n_members,
         CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
         max(ROW(n_chars, -doc_id, lang, source)) AS win
  FROM members GROUP BY 1
)
SELECT component, n_members, n_sources,
       -(win[2]) AS canonical_doc_id,
       win[1] AS canonical_n_chars,
       win[3] AS canonical_lang,
       win[4] AS canonical_source
FROM elected ORDER BY component
"""


def q_events_seasonal_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS32 — seasonal-naive forecast backtest per event type: score
    the 24-hour seasonal-naive forecast (ĉ_t = c_{t−24}) against the
    1-hour naive baseline on the densified hourly series, reporting
    MAE for both and MASE = MAE_seasonal / MAE_naive (< 1 ⇒ daily
    seasonality carries real predictive signal — the standard
    forecastability screen BEFORE fitting any model). Everything up to
    the final quotients is exact BIGINT (absolute-error sums of
    integer counts); `beats_naive` compares cross-multiplied integers,
    so the flag is exact even when the MASE double rounds.

    Plan: one hourly rollup is the only fact shuffle; both lag columns
    come from ONE ordered window pass over the wall-clock-bounded
    spine."""
    from floatchat_datapipeline_spark.functions.eventtime import (
        epoch_micros,
        long_div,
    )
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        long_div(epoch_micros(F.col("ts")), 3_600_000_000).alias("h"),
    ).agg(F.count(F.lit(1)).alias("c"))
    bounds = hourly.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    spine = (
        hourly.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(F.sequence("h0", "h1")).alias("h"),
        )
    )
    dense = spine.join(hourly, ["event_type", "h"], "left").select(
        "event_type", "h", F.coalesce("c", F.lit(0)).alias("c")
    )
    return _mase_from_dense(dense)


def _mase_from_dense(dense: DataFrame, season: int = 24) -> DataFrame:
    """MASE backtest over a dense (event_type, h, c) series — factored
    so property tests can feed planted-period series. See
    q_events_seasonal_mase."""
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy("h")
    lagged = dense.select(
        "event_type",
        "c",
        F.lag("c", 1).over(w).alias("l1"),
        F.lag("c", season).over(w).alias("l24"),
    )
    agg = lagged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum(F.abs(F.col("c") - F.col("l1"))).alias("s1"),
        F.count("l1").alias("n1"),
        F.sum(F.abs(F.col("c") - F.col("l24"))).alias("s24"),
        F.count("l24").alias("n24"),
    )
    return agg.select(
        "event_type",
        "n_hours",
        F.round(F.col("s24").cast("double") / F.col("n24"), 9).alias(
            "mae_seasonal"
        ),
        F.round(F.col("s1").cast("double") / F.col("n1"), 9).alias(
            "mae_naive"
        ),
        F.round(
            (F.col("s24").cast("double") * F.col("n1"))
            / (F.col("s1").cast("double") * F.col("n24")),
            9,
        ).alias("mase"),
        (
            F.col("s24") * F.col("n1") < F.col("s1") * F.col("n24")
        ).alias("beats_naive"),
    ).orderBy("event_type")


_EVENTS_SEASONAL_MASE_ORACLE = """
WITH hourly AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS h,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
), bounds AS (
  SELECT min(h) AS h0, max(h) AS h1 FROM hourly
), dense AS (
  SELECT t.event_type, g.h, CAST(coalesce(e.c, 0) AS BIGINT) AS c
  FROM (SELECT DISTINCT event_type FROM hourly) t
  CROSS JOIN (SELECT unnest(range(h0, h1 + 1)) AS h FROM bounds) g
  LEFT JOIN hourly e ON t.event_type = e.event_type AND g.h = e.h
), lagged AS (
  SELECT event_type, c,
         lag(c, 1) OVER (PARTITION BY event_type ORDER BY h) AS l1,
         lag(c, 24) OVER (PARTITION BY event_type ORDER BY h) AS l24
  FROM dense
), agg AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_hours,
         CAST(sum(abs(c - l1)) AS BIGINT) AS s1,
         CAST(count(l1) AS BIGINT) AS n1,
         CAST(sum(abs(c - l24)) AS BIGINT) AS s24,
         CAST(count(l24) AS BIGINT) AS n24
  FROM lagged GROUP BY 1
)
SELECT event_type, n_hours,
       round(CAST(s24 AS DOUBLE) / n24, 9) AS mae_seasonal,
       round(CAST(s1 AS DOUBLE) / n1, 9) AS mae_naive,
       round((CAST(s24 AS DOUBLE) * n1) / (CAST(s1 AS DOUBLE) * n24),
             9) AS mase,
       (s24 * n1 < s1 * n24) AS beats_naive
FROM agg ORDER BY event_type
"""


def q_doc_kn_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L33 — interpolated Kneser–Ney BIGRAM log-probability per
    document (the serious upgrade of L11's add-one unigram scorer —
    the standard pre-neural LM quality filter):
    p(w2|w1) = (c(w1w2) − 0.75)/c(w1•) + 0.75·(N1+(w1•)/c(w1•))·
    (N1+(•w2)/B), with continuation counts N1+ and total distinct
    bigrams B. Every count is an exact BIGINT; each distinct doc-
    bigram's ln p quantizes to 1e-9 BIGINT units and multiplies its
    in-doc frequency, so the per-doc reduction is an exact integer sum
    (order-free — tighter than L11's 4dp-rounded double sum). The
    discount never clips because only in-corpus bigrams (c ≥ 1) are
    scored.

    Plan: corpus stats are three partial-aggregable rollups on the
    (w1, w2) / (w1) / (w2) domains. The unigram frames (c1, cont) are
    vocabulary-bounded and broadcast; the DISTINCT-BIGRAM frame (c12)
    grows near-linearly with corpus tokens (Heaps' law), so it carries
    NO broadcast hint — AQE broadcasts it at small SF and falls back to
    a sort-merge on (w1, w2) past the threshold, the same key docbi is
    already partial-aggregated on. One per-doc rollup ends the plan. No
    windows, no self-joins."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.split(F.col("text"), " ").alias("l")
    ).filter(F.size("l") >= 2)
    bi = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(slice(l, 1, size(l) - 1),"
                " (x, i) -> struct(x AS w1, l[i + 1] AS w2))"
            )
        ).alias("b"),
    ).select("doc_id", "b.w1", "b.w2")
    docbi = bi.groupBy("doc_id", "w1", "w2").agg(
        F.count(F.lit(1)).alias("m")
    )
    c12 = docbi.groupBy("w1", "w2").agg(F.sum("m").alias("c12"))
    c12 = c12.localCheckpoint(eager=True)  # four stat consumers
    c1 = c12.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count(F.lit(1)).alias("n1f")
    )
    cont = c12.groupBy("w2").agg(F.count(F.lit(1)).alias("n1b"))
    btot = c12.agg(F.count(F.lit(1)).alias("b"))
    p = (F.col("c12") - F.lit(0.75)) / F.col("c1") + (
        F.lit(0.75) * F.col("n1f") / F.col("c1")
    ) * (F.col("n1b").cast("double") / F.col("b"))
    scored = (
        docbi.join(c12, ["w1", "w2"])
        .join(F.broadcast(c1), "w1")
        .join(F.broadcast(cont), "w2")
        .crossJoin(F.broadcast(btot))
        .select(
            "doc_id",
            "m",
            F.round(F.log(p) * 1e9, 0).cast("long").alias("lp"),
        )
    )
    out = scored.groupBy("doc_id").agg(
        F.sum("m").alias("n_bigrams"),
        F.sum(F.col("m") * F.col("lp")).alias("kn_nanos"),
    )
    return out.select(
        "doc_id",
        "n_bigrams",
        "kn_nanos",
        (
            F.col("kn_nanos")
            / (F.lit(1e9) * F.col("n_bigrams"))
        ).alias("kn_avg_logprob"),
    ).orderBy("doc_id")


_DOC_KN_LOGPROB_ORACLE = """
WITH tk AS (
  SELECT doc_id, string_split(text, ' ') AS l FROM documents
  WHERE len(string_split(text, ' ')) >= 2
), bi AS (
  SELECT doc_id, l[i] AS w1, l[i + 1] AS w2
  FROM (SELECT doc_id, l, unnest(range(1, len(l))) AS i FROM tk)
), docbi AS (
  SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS m
  FROM bi GROUP BY 1, 2, 3
), c12 AS (
  SELECT w1, w2, CAST(sum(m) AS BIGINT) AS c12
  FROM docbi GROUP BY 1, 2
), c1 AS (
  SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
         CAST(count(*) AS BIGINT) AS n1f
  FROM c12 GROUP BY 1
), cont AS (
  SELECT w2, CAST(count(*) AS BIGINT) AS n1b FROM c12 GROUP BY 1
), btot AS (
  SELECT CAST(count(*) AS BIGINT) AS b FROM c12
), scored AS (
  SELECT doc_id, m,
         CAST(round(ln((c12 - 0.75e0) / c1
                       + (0.75e0 * n1f / c1)
                         * (CAST(n1b AS DOUBLE) / b)) * 1e9, 0)
              AS BIGINT) AS lp
  FROM docbi JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
       JOIN cont USING (w2), btot
)
SELECT doc_id,
       CAST(sum(m) AS BIGINT) AS n_bigrams,
       CAST(sum(m * lp) AS BIGINT) AS kn_nanos,
       CAST(sum(m * lp) AS BIGINT)
         / (1e9 * CAST(sum(m) AS BIGINT)) AS kn_avg_logprob
FROM scored GROUP BY doc_id ORDER BY doc_id
"""


def q_media_shot_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1 / multimodal-shots — shot-boundary detection over BINARY
    media: split each blob into its frame chunks (the media_frames
    fan-out count, len % 7 + 1), build a 16-bucket byte histogram per
    chunk (the D12 feature shape), and flag a boundary wherever the
    consecutive-frame L1 histogram distance moves more than a quarter
    of the two frames' combined mass (4·L1 > massₐ + massᵦ — exact
    cross-multiplied integers). On real video the histogram is
    replaced by decoded frame features (operators/multimodal.
    decode_image, env-gated); the Spark plumbing — JVM-side frame
    slicing, dense histogram vectors, consecutive-frame lead window,
    integer threshold — is exactly what ships.

    Scale: one map-side pass builds the per-frame histograms as pure
    string ops on ≤ 7 frame-sliced rows per doc (NO per-byte explode —
    see _shot_boundaries_from_media); consecutive frames pair via a
    lead() window on the same doc_id partitioning the final rollup
    uses — one exchange total, never a self-join over the corpus."""
    from floatchat_datapipeline_spark.operators.multimodal import (
        synth_media,
    )

    media = synth_media(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    return _shot_boundaries_from_media(spark, media)


def _shot_boundaries_from_media(
    spark: SparkSession, media: DataFrame
) -> DataFrame:
    """Shot-boundary core over a (doc_id, content BINARY) frame —
    factored so property tests can feed hand-crafted blobs. See
    q_media_shot_boundaries."""
    hexed = media.select(
        "doc_id",
        F.hex("content").alias("hx"),
        F.length("content").alias("nb"),
        (F.length("content") % 7 + 1).alias("nf"),
    )
    # bucket = byte div 16 = the byte's FIRST hex digit. NO per-byte
    # explode (an exploded row copies its doc's full hex string — a
    # quadratic materialization on large blobs): strip the hex string
    # to first nibbles with one regex, slice ONE substring per frame
    # (≤ 7 rows/doc), and count each of the 16 digits by the
    # length-minus-replace identity — the whole histogram is string
    # ops on frame-sized rows, dense by construction (zeros included).
    frames = hexed.select(
        "doc_id",
        "nb",
        "nf",
        F.regexp_replace("hx", r"(.).", r"$1").alias("odd"),
        F.explode(F.sequence(F.lit(0), F.col("nf") - 1)).alias(
            "frame"
        ),
    ).select(
        "doc_id",
        "frame",
        F.expr(
            "substring(odd,"
            " cast((frame * nb + nf - 1) div nf as int) + 1,"
            " cast(((frame + 1) * nb + nf - 1) div nf"
            "      - (frame * nb + nf - 1) div nf as int))"
        ).alias("fs"),
    )
    # One dense 16-long histogram ARRAY per frame row (no 16-way
    # explode): consecutive frames pair via a lead() window on the SAME
    # doc_id partitioning the final rollup needs, so the whole distance
    # pass costs one exchange — the r13 rewrite of the exploded
    # dense↔next equi-join (explode + join shuffle + extra groupBy).
    from pyspark.sql import Window

    digits = F.transform(
        F.split(F.lit("0,1,2,3,4,5,6,7,8,9,A,B,C,D,E,F"), ","),
        lambda d: (
            F.length("fs") - F.length(F.replace(F.col("fs"), d, F.lit("")))
        ).cast("long"),
    )
    hists = frames.select("doc_id", "frame", digits.alias("hist"))
    w_next = Window.partitionBy("doc_id").orderBy("frame")
    paired = hists.withColumn("h2", F.lead("hist").over(w_next)).filter(
        F.col("h2").isNotNull()
    )
    # Unrolled 16-term sums (HOF folds don't codegen — the discord rule).
    l1 = None
    tm = None
    for k in range(1, 17):
        d = F.element_at("hist", k) - F.element_at("h2", k)
        s = F.element_at("hist", k) + F.element_at("h2", k)
        l1 = F.abs(d) if l1 is None else l1 + F.abs(d)
        tm = s if tm is None else tm + s
    steps = paired.select(
        "doc_id", "frame", l1.alias("l1"), tm.alias("tm")
    )
    return (
        steps.groupBy("doc_id")
        .agg(
            (F.max("frame") + 2).alias("n_frames"),
            F.sum(
                (F.lit(4) * F.col("l1") > F.col("tm")).cast("long")
            ).alias("n_boundaries"),
            F.max("l1").alias("max_l1"),
        )
        .orderBy("doc_id")
    )


_MEDIA_SHOT_BOUNDARIES_ORACLE = f"""
WITH {_SYNTH_MEDIA_SQL.strip()}, sized AS (
  SELECT doc_id, hex(content) AS hx, octet_length(content) AS nb,
         octet_length(content) % 7 + 1 AS nf
  FROM media
), frames AS (
  SELECT doc_id, frame,
         substr(regexp_replace(hx, '(.).', '\\1', 'g'),
                CAST((frame * nb + nf - 1) // nf AS INT) + 1,
                CAST(((frame + 1) * nb + nf - 1) // nf
                     - (frame * nb + nf - 1) // nf AS INT)) AS fs
  FROM sized,
       LATERAL (SELECT unnest(range(0, nf)) AS frame)
), dense AS (
  SELECT doc_id, frame, d.bucket,
         CAST(length(fs) - length(replace(fs, d.bucket, ''))
              AS BIGINT) AS mass
  FROM frames,
       (SELECT substr('0123456789ABCDEF', CAST(i + 1 AS INT), 1)
          AS bucket
        FROM (SELECT unnest(range(0, 16)) AS i)) d
), steps AS (
  SELECT a.doc_id, a.frame,
         CAST(sum(abs(a.mass - b.mass)) AS BIGINT) AS l1,
         CAST(sum(a.mass + b.mass) AS BIGINT) AS tm
  FROM dense a JOIN dense b
    ON a.doc_id = b.doc_id AND a.bucket = b.bucket
   AND b.frame = a.frame + 1
  GROUP BY 1, 2
)
SELECT doc_id,
       CAST(max(frame) + 2 AS BIGINT) AS n_frames,
       CAST(sum(CASE WHEN 4 * l1 > tm THEN 1 ELSE 0 END) AS BIGINT)
         AS n_boundaries,
       CAST(max(l1) AS BIGINT) AS max_l1
FROM steps GROUP BY doc_id ORDER BY doc_id
"""


def q_nation_spend_theil(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A62 — Theil T inequality index of customer lifetime spend per
    nation (the decomposable complement of A37's Gini: T = (1/N)·
    Σ (xᵢ/μ)·ln(xᵢ/μ), zero at perfect equality, ln N at total
    concentration). Parity: spend is exact order-cents; each
    customer's term is one fixed double tree over (xᵢ·N)/S exact-
    integer ratios, quantized to 1e-9 BEFORE the per-nation sum (the
    A60 rule — the only cross-row float reduction is an order-free
    integer sum). Customers with no orders are absent from the join
    and excluded (spend-0 terms are 0·ln 0 = 0 anyway).

    Plan: one orders rollup to customers, one broadcast of per-nation
    totals, one per-nation rollup — partial-aggregable end to end."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    spend = (
        orders.groupBy("o_custkey")
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("long")
            ).alias("x")
        )
        .join(
            cust.select(
                F.col("c_custkey").alias("o_custkey"), "c_nationkey"
            ),
            "o_custkey",
        )
    )
    tot = spend.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n"), F.sum("x").alias("s")
    )
    ratio = (F.col("x").cast("double") * F.col("n")) / F.col("s")
    term = F.round(ratio * F.log(ratio) * 1e9, 0).cast("long")
    per = spend.join(F.broadcast(tot), "c_nationkey").select(
        "c_nationkey", "n", term.alias("tn")
    )
    return (
        per.groupBy("c_nationkey", "n")
        .agg(F.sum("tn").alias("theil_sum_nanos"))
        .select(
            F.col("c_nationkey").alias("nationkey"),
            F.col("n").alias("n_customers"),
            (
                F.col("theil_sum_nanos")
                / (F.lit(1e9) * F.col("n"))
            ).alias("theil"),
        )
        .orderBy("nationkey")
    )


_NATION_SPEND_THEIL_ORACLE = """
WITH spend AS (
  SELECT o.o_custkey, c.c_nationkey,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
              AS BIGINT) AS x
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
), tot AS (
  SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS s
  FROM spend GROUP BY 1
), per AS (
  SELECT sp.c_nationkey, n,
         CAST(round(((CAST(x AS DOUBLE) * n) / s)
                    * ln((CAST(x AS DOUBLE) * n) / s) * 1e9, 0)
              AS BIGINT) AS tn
  FROM spend sp JOIN tot USING (c_nationkey)
)
SELECT c_nationkey AS nationkey, n AS n_customers,
       CAST(sum(tn) AS BIGINT) / (1e9 * n) AS theil
FROM per GROUP BY 1, 2 ORDER BY nationkey
"""


def q_orders_keyset_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O11 — keyset (seek-method) pagination: pages 2 and 3 of orders
    ordered by (price DESC, orderkey ASC), 10 rows each, WITHOUT a
    global OFFSET sort — each page filters strictly-beyond the
    previous page's last (price, key) tuple and TakeOrders only its
    own 10 rows. The at-scale pagination contract: OFFSET N scans and
    discards N rows per page (O(N²) across a crawl), the seek
    predicate prunes to the tail and is pushdown-friendly. Boundaries
    come from min(struct(price, −key)) over the previous page — a
    1-row broadcast, the O10 threshold idiom — and the price/key
    tuple order is total, so pages are deterministic. The oracle is
    the OFFSET/LIMIT form (row_number 11..30) — proving seek ≡ offset.

    Plan: three chained TakeOrdered(10)s + two 1-row broadcast
    thresholds; no global rank window, no offset scan."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100)
        .cast("long")
        .alias("price_cents"),
    )

    def page_after(df: DataFrame, boundary: DataFrame) -> DataFrame:
        return (
            df.crossJoin(F.broadcast(boundary))
            .filter(
                (F.col("price_cents") < F.col("bp"))
                | (
                    (F.col("price_cents") == F.col("bp"))
                    & (F.col("o_orderkey") > F.col("bk"))
                )
            )
            .select("o_orderkey", "price_cents")
            .orderBy(F.desc("price_cents"), "o_orderkey")
            .limit(10)
        )

    def boundary_of(page: DataFrame) -> DataFrame:
        return page.agg(
            F.min(
                F.struct(
                    F.col("price_cents"), (-F.col("o_orderkey")).alias("nk")
                )
            ).alias("b")
        ).select(
            F.col("b.price_cents").alias("bp"), (-F.col("b.nk")).alias("bk")
        )

    page1 = orders.orderBy(F.desc("price_cents"), "o_orderkey").limit(10)
    page2 = page_after(orders, boundary_of(page1))
    page3 = page_after(orders, boundary_of(page2))
    from pyspark.sql import Window

    w = Window.partitionBy("page").orderBy(
        F.desc("price_cents"), "o_orderkey"
    )
    out = page2.withColumn("page", F.lit(2)).unionByName(
        page3.withColumn("page", F.lit(3))
    )
    return (
        out.withColumn("rnk", F.row_number().over(w).cast("long"))
        .select(
            F.col("page").cast("long").alias("page"),
            "rnk",
            "o_orderkey",
            "price_cents",
        )
        .orderBy("page", "rnk")
    )


_ORDERS_KEYSET_PAGES_ORACLE = """
WITH ranked AS (
  SELECT o_orderkey,
         CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
         row_number() OVER (
           ORDER BY CAST(round(o_totalprice * 100) AS BIGINT) DESC,
                    o_orderkey) AS rn
  FROM orders
)
SELECT CAST((rn - 1) // 10 + 1 AS BIGINT) AS page,
       CAST(rn - 10 * ((rn - 1) // 10) AS BIGINT) AS rnk,
       o_orderkey, price_cents
FROM ranked WHERE rn BETWEEN 11 AND 30
ORDER BY page, rnk
"""


def q_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D16 — dedup threshold sweep: pair and doc counts at Jaccard
    cutoffs θ ∈ {0.5 … 0.9} from ONE exact PPJoin pair frame (the
    memoized L22 corpus state — this is its third consumer; no new
    fact pass, the sweep is a 5-way rollup of an already-checkpointed
    pair list). The operating-point curve a dedup rollout needs:
    how many pairs/docs does each candidate threshold implicate?
    Comparisons run on the 6dp-rounded jaccard both engines already
    agree on (the L22 hash pins it), so bucket membership is exact.

    Scale: the expensive part (prefix-filtered pair generation) is
    amortized corpus state; the sweep itself is pairs × 5 rows."""
    pairs = _cached_pair_frame(spark, sf_dir, "ppjoin")
    thetas = spark.range(5).select(
        (F.lit(0.5) + F.col("id") * F.lit(0.1)).alias("theta")
    )
    hits = pairs.crossJoin(F.broadcast(thetas)).filter(
        F.col("jaccard") >= F.col("theta")
    )
    docs = hits.select(
        "theta", F.explode(F.array("id_a", "id_b")).alias("d")
    )
    n_pairs = hits.groupBy("theta").agg(
        F.count(F.lit(1)).alias("n_pairs")
    )
    n_docs = docs.groupBy("theta").agg(
        F.countDistinct("d").alias("n_docs")
    )
    return (
        thetas.join(n_pairs, "theta", "left")
        .join(n_docs, "theta", "left")
        .select(
            F.round(F.col("theta"), 1).alias("theta"),
            F.coalesce("n_pairs", F.lit(0)).alias("n_pairs"),
            F.coalesce("n_docs", F.lit(0)).alias("n_docs"),
        )
        .orderBy("theta")
    )


_DEDUP_THRESHOLD_SWEEP_ORACLE = f"""
WITH sh AS (
  SELECT doc_id,
         unnest(list_transform({_SHINGLES_3_SQL},
                               s -> {_MD5_LONG_SQL.format(x='s')})) AS tok
  FROM (SELECT doc_id, string_split(text, ' ') t FROM documents)
), sizes AS (
  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT id_a, id_b,
         round(n_inter::DOUBLE / (sa.n + sb.n - n_inter), 6) AS jaccard
  FROM inter
  JOIN sizes sa ON id_a = sa.doc_id
  JOIN sizes sb ON id_b = sb.doc_id
  WHERE n_inter * 2 >= 1 * (sa.n + sb.n - n_inter)
), thetas AS (
  SELECT 0.5e0 + i * 0.1e0 AS theta
  FROM (SELECT unnest(range(0, 5)) AS i)
), hits AS (
  SELECT theta, id_a, id_b FROM pairs, thetas
  WHERE jaccard >= theta
)
SELECT round(t.theta, 1) AS theta,
       CAST(coalesce(p.n_pairs, 0) AS BIGINT) AS n_pairs,
       CAST(coalesce(d.n_docs, 0) AS BIGINT) AS n_docs
FROM thetas t
LEFT JOIN (SELECT theta, count(*) AS n_pairs FROM hits GROUP BY 1) p
  USING (theta)
LEFT JOIN (SELECT theta, count(DISTINCT d) AS n_docs FROM (
    SELECT theta, id_a AS d FROM hits
    UNION ALL SELECT theta, id_b FROM hits) GROUP BY 1) d
  USING (theta)
ORDER BY theta
"""


def q_emb_cosine_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V19 — embedding-space anisotropy report: the distribution of
    pairwise cosines over a deterministic pseudo-random pair sample
    (id-offset pairs at strides 1, 17, 131 — 3N pairs, no random state,
    no quadratic join). Isotropic spaces concentrate near 0; a high
    mean cosine is the anisotropy / hubness pathology that silently
    degrades top-k retrieval (the space-health complement of V15/V16's
    recall certificates). Cosines come from exact 1e-6-quantized
    integer dots (the V18 algebra: BIGINT zip_with fold per pair), so
    both engines bucket the SAME doubles; the mean is quantized to
    1e-9 before summing (the A60 rule).

    Scale: three self-equi-joins on shifted ids (no shuffle beyond the
    id hash), per-pair fold JVM-side, one 20-bucket rollup."""
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull() & (F.size("embedding") == 64))
        .select(
            "vec_id",
            F.transform(
                "embedding",
                lambda x: F.round(x.cast("double") * 1e6, 0).cast(
                    "long"
                ),
            ).alias("mic"),
        )
    )
    strides = spark.range(3).select(
        F.expr("element_at(array(1L, 17L, 131L), CAST(id + 1 AS INT))")
        .alias("o")
    )
    a = emb.crossJoin(F.broadcast(strides)).select(
        (F.col("vec_id") + F.col("o")).alias("bid"),
        F.col("mic").alias("ma"),
    )
    b = emb.select(F.col("vec_id").alias("bid"), F.col("mic").alias("mb"))
    dot = F.aggregate(
        F.zip_with("ma", "mb", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    sq = lambda c: F.aggregate(  # noqa: E731
        F.transform(c, lambda x: x * x),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    cos = dot.cast("double") / (
        F.sqrt(sq("ma").cast("double")) * F.sqrt(sq("mb").cast("double"))
    )
    # Zero-norm guard: a pair touching a zero vector has no defined
    # cosine — exclude it from the histogram (mirrored WHERE in the
    # oracle) rather than aborting under ANSI mode. The filter runs
    # BEFORE the cos projection so the division never sees a zero norm.
    pairs = (
        a.join(b, "bid")
        .filter((sq("ma") != F.lit(0)) & (sq("mb") != F.lit(0)))
        .select(
            F.floor(cos * 10).cast("long").alias("bucket"),
            F.round(cos * 1e9, 0).cast("long").alias("cn"),
        )
    )
    return (
        pairs.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("cn").alias("cos_nanos"),
        )
        .select(
            "bucket",
            "n_pairs",
            (
                F.col("cos_nanos") / (F.lit(1e9) * F.col("n_pairs"))
            ).alias("mean_cos"),
        )
        .orderBy("bucket")
    )


_EMB_COSINE_HISTOGRAM_ORACLE = """
WITH base AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS mic
  FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) = 64
), pairs AS (
  SELECT a.mic AS ma, b.mic AS mb
  FROM base a
  JOIN (SELECT unnest([1, 17, 131]) AS o) s ON true
  JOIN base b ON b.vec_id = a.vec_id + s.o
), scored AS (
  SELECT CAST(list_sum(list_transform(range(1, 65),
              i -> ma[i] * mb[i])) AS DOUBLE)
         / (sqrt(CAST(list_sum(list_transform(ma, x -> x * x))
                      AS DOUBLE))
            * sqrt(CAST(list_sum(list_transform(mb, x -> x * x))
                        AS DOUBLE))) AS cos
  FROM pairs
  WHERE list_sum(list_transform(ma, x -> x * x)) != 0
    AND list_sum(list_transform(mb, x -> x * x)) != 0
)
SELECT CAST(floor(cos * 10) AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(CAST(round(cos * 1e9, 0) AS BIGINT)) AS BIGINT)
         / (1e9 * count(*)) AS mean_cos
FROM scored GROUP BY 1 ORDER BY bucket
"""


def q_events_peak_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS33 — peak detection with prominence on the densified hourly
    series: an hour is a peak when it strictly exceeds ALL four ±2 h
    neighbors; its prominence is the margin over the tallest neighbor
    (c − max of the four). Top-5 peaks per event type by (prominence,
    count, hour) — the alerting primitive that, unlike A20's global
    MAD outliers, keys on LOCAL shape, so a busy-but-flat day stays
    quiet. All-integer on the wall-clock-bounded spine; edge hours
    (missing a neighbor) are excluded on both engines.

    Plan: the hourly rollup is the only fact shuffle; four lag/lead
    columns come from ONE ordered window pass per type."""
    from floatchat_datapipeline_spark.functions.eventtime import (
        epoch_micros,
        long_div,
    )
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        long_div(epoch_micros(F.col("ts")), 3_600_000_000).alias("h"),
    ).agg(F.count(F.lit(1)).alias("c"))
    bounds = hourly.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    spine = (
        hourly.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(F.sequence("h0", "h1")).alias("h"),
        )
    )
    dense = spine.join(hourly, ["event_type", "h"], "left").select(
        "event_type", "h", F.coalesce("c", F.lit(0)).alias("c")
    )
    w = Window.partitionBy("event_type").orderBy("h")
    nb = dense.select(
        "event_type",
        "h",
        "c",
        F.lag("c", 2).over(w).alias("m2"),
        F.lag("c", 1).over(w).alias("m1"),
        F.lead("c", 1).over(w).alias("p1"),
        F.lead("c", 2).over(w).alias("p2"),
    ).filter(
        F.col("m2").isNotNull()
        & F.col("m1").isNotNull()
        & F.col("p1").isNotNull()
        & F.col("p2").isNotNull()
    )
    tallest = F.greatest("m2", "m1", "p1", "p2")
    peaks = nb.filter(F.col("c") > tallest).select(
        "event_type",
        "h",
        "c",
        (F.col("c") - tallest).alias("prominence"),
    )
    rk = Window.partitionBy("event_type").orderBy(
        F.desc("prominence"), F.desc("c"), "h"
    )
    return (
        peaks.withColumn("rnk", F.row_number().over(rk).cast("long"))
        .filter(F.col("rnk") <= 5)
        .select(
            "event_type",
            F.col("h").alias("peak_h"),
            "c",
            "prominence",
            "rnk",
        )
        .orderBy("event_type", "rnk")
    )


_EVENTS_PEAK_HOURS_ORACLE = """
WITH hourly AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS h,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
), bounds AS (
  SELECT min(h) AS h0, max(h) AS h1 FROM hourly
), dense AS (
  SELECT t.event_type, g.h, CAST(coalesce(e.c, 0) AS BIGINT) AS c
  FROM (SELECT DISTINCT event_type FROM hourly) t
  CROSS JOIN (SELECT unnest(range(h0, h1 + 1)) AS h FROM bounds) g
  LEFT JOIN hourly e ON t.event_type = e.event_type AND g.h = e.h
), nb AS (
  SELECT event_type, h, c,
         lag(c, 2) OVER (PARTITION BY event_type ORDER BY h) AS m2,
         lag(c, 1) OVER (PARTITION BY event_type ORDER BY h) AS m1,
         lead(c, 1) OVER (PARTITION BY event_type ORDER BY h) AS p1,
         lead(c, 2) OVER (PARTITION BY event_type ORDER BY h) AS p2
  FROM dense
  QUALIFY m2 IS NOT NULL AND m1 IS NOT NULL
      AND p1 IS NOT NULL AND p2 IS NOT NULL
), peaks AS (
  SELECT event_type, h, c,
         c - greatest(m2, m1, p1, p2) AS prominence
  FROM nb WHERE c > greatest(m2, m1, p1, p2)
)
SELECT event_type, peak_h, c, prominence, rnk FROM (
  SELECT event_type, h AS peak_h, c, prominence,
         CAST(row_number() OVER (
           PARTITION BY event_type
           ORDER BY prominence DESC, c DESC, h) AS BIGINT) AS rnk
  FROM peaks)
WHERE rnk <= 5
ORDER BY event_type, rnk
"""


def q_events_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A63 — Cramér's V effect size for the event_type × day-of-week
    contingency (the EFFECT-SIZE companion the A42 test family lacks:
    a chi² p-value says "dependent", V ∈ [0, 1] says "by how much",
    robust to N). Margins and N are exact BIGINTs on the densified
    type × 7-day grid; each cell's ((O·N − r·c)²)/(N·r·c) contribution
    quantizes to 1e-9 BEFORE the cross-cell sum (the A60 order-free
    rule — simpler than A42's sorted-array fold and just as exact);
    V = sqrt((χ²/N)/min(r−1, c−1)) is one final double tree. The
    conventional strength label thresholds at 0.1/0.3/0.5.

    Plan: one partial-aggregable hash agg to the (type, dow) cell
    domain, margin rollups on that bounded grid, one 1-row rollup."""
    from floatchat_datapipeline_spark.functions.eventtime import (
        epoch_micros,
        long_div,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        (long_div(epoch_micros(F.col("ts")), 86_400_000_000) % 7).alias(
            "dow"
        ),
    )
    cells = ev.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).alias("o")
    )
    return _cramers_v_report(cells)


def _cramers_v_report(cells: DataFrame) -> DataFrame:
    """Cramér's V core over an (event_type, dow, o) contingency tally —
    factored so property tests can feed perfect-dependence and uniform
    grids. See q_events_cramers_v."""
    rows_m = cells.groupBy("event_type").agg(F.sum("o").alias("r"))
    cols_m = cells.groupBy("dow").agg(F.sum("o").alias("c"))
    total = cells.agg(
        F.sum("o").alias("n"),
        F.countDistinct("event_type").alias("nr"),
        F.countDistinct("dow").alias("nc"),
    )
    grid = (
        rows_m.crossJoin(F.broadcast(cols_m))
        .join(cells, ["event_type", "dow"], "left")
        .crossJoin(F.broadcast(total))
        .select(
            F.coalesce(F.col("o"), F.lit(0)).alias("o"),
            "r",
            "c",
            "n",
            "nr",
            "nc",
        )
    )
    diff = (F.col("o") * F.col("n") - F.col("r") * F.col("c")).cast(
        "double"
    )
    den = (F.col("n") * F.col("r") * F.col("c")).cast("double")
    cn = F.round((diff * diff) / den * 1e9, 0).cast("long")
    agg = grid.groupBy("n", "nr", "nc").agg(
        F.sum(cn).alias("chi2_nanos")
    )
    chi2 = F.col("chi2_nanos") / F.lit(1e9)
    # Degenerate guard, structurally safe (q_events_anova_f round-13
    # pattern): a 1×c or r×1 table has min(r−1, c−1) = 0 — association
    # is undefined there, so try_divide NULLs V and the NULL propagates
    # into every banding condition, leaving the strength label NULL too
    # (the old CaseWhen needed its dof branch FIRST or garbage fell
    # through to 'large'; here no ordering is load-bearing — the final
    # band carries its own ≥ 0.5 condition instead of an otherwise()).
    dof = F.least(F.col("nr") - 1, F.col("nc") - 1)
    v = F.sqrt(F.try_divide(F.try_divide(chi2, F.col("n")), dof))
    return agg.select(
        "n",
        F.round(chi2, 9).alias("chi2"),
        F.round(v, 9).alias("cramers_v"),
        F.when(v < 0.1, F.lit("negligible"))
        .when(v < 0.3, F.lit("small"))
        .when(v < 0.5, F.lit("medium"))
        .when(v >= 0.5, F.lit("large"))
        .alias("strength"),
    )


_EVENTS_CRAMERS_V_ORACLE = """
WITH ev AS (
  SELECT event_type, (epoch_us(ts) // 86400000000) % 7 AS dow
  FROM events
), cells AS (
  SELECT event_type, dow, CAST(count(*) AS BIGINT) AS o
  FROM ev GROUP BY 1, 2
), rows_m AS (
  SELECT event_type, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY 1
), cols_m AS (
  SELECT dow, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY 1
), total AS (
  SELECT CAST(sum(o) AS BIGINT) AS n,
         CAST(count(DISTINCT event_type) AS BIGINT) AS nr,
         CAST(count(DISTINCT dow) AS BIGINT) AS nc
  FROM cells
), grid AS (
  SELECT CAST(coalesce(ce.o, 0) AS BIGINT) AS o, r, c, n, nr, nc
  FROM rows_m CROSS JOIN cols_m
  LEFT JOIN cells ce USING (event_type, dow)
  CROSS JOIN total
), agg AS (
  SELECT n, nr, nc,
         CAST(sum(CAST(round(
           (CAST(o * n - r * c AS DOUBLE)
            * CAST(o * n - r * c AS DOUBLE))
           / CAST(n * r * c AS DOUBLE) * 1e9, 0) AS BIGINT))
           AS BIGINT) AS chi2_nanos
  FROM grid GROUP BY 1, 2, 3
)
SELECT n,
       round(chi2_nanos / 1e9, 9) AS chi2,
       CASE WHEN least(nr - 1, nc - 1) = 0 THEN NULL
       ELSE round(sqrt(((chi2_nanos / 1e9) / n) / least(nr - 1, nc - 1)),
             9) END AS cramers_v,
       CASE WHEN least(nr - 1, nc - 1) = 0 THEN NULL
            WHEN sqrt(((chi2_nanos / 1e9) / n)
                      / least(nr - 1, nc - 1)) < 0.1e0
              THEN 'negligible'
            WHEN sqrt(((chi2_nanos / 1e9) / n)
                      / least(nr - 1, nc - 1)) < 0.3e0
              THEN 'small'
            WHEN sqrt(((chi2_nanos / 1e9) / n)
                      / least(nr - 1, nc - 1)) < 0.5e0
              THEN 'medium'
            ELSE 'large' END AS strength
FROM agg
"""


def q_vocab_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L34 — token burstiness (Church–Gale overdispersion): per token,
    the variance-to-mean ratio of its per-document count over ALL
    documents (zeros included) — ≈ 1 for Poisson "function words",
    ≫ 1 for topical words that cluster in few docs. The zero docs
    never materialize: with T = Σc and Q = Σc² over the docs that DO
    contain the token, var/mean = (N·Q − T²)/(N·T) exactly. Top-20
    tokens by burstiness (df ≥ 5 to kill one-doc flukes); ordering
    compares the SAME 1e-9-rounded double on both engines with the
    token string as total tiebreak.

    Plan: one (doc, token) rollup, one token rollup (both partial-
    aggregable, vocabulary-bounded output), one 1-row doc count
    broadcast, then the O10 TakeOrdered-threshold idiom
    (part_qty_topk_ties): TakeOrdered finds the 20th (burstiness,
    token) boundary, the 1-row threshold broadcasts back as a filter,
    and row_number runs only over the ≤ 20+ties survivors — the
    earlier global rank window sorted the ENTIRE df≥5 vocabulary in
    one task, a single-task sort over tens of millions of tokens at
    100 TB (VERDICT r12 item 2)."""
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.agg(F.count(F.lit(1)).alias("nd"))
    dtok = (
        docs.select(
            "doc_id",
            F.explode(F.split(F.col("text"), " ")).alias("token"),
        )
        .filter(F.col("token") != "")
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tok = dtok.groupBy("token").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("c").alias("t"),
        F.sum(F.col("c") * F.col("c")).alias("q"),
    )
    scored = (
        tok.filter(F.col("df") >= 5)
        .crossJoin(F.broadcast(n_docs))
        .select(
            "token",
            "df",
            F.col("t").alias("total_occ"),
            F.round(
                (F.col("nd") * F.col("q") - F.col("t") * F.col("t"))
                .cast("double")
                / (F.col("nd") * F.col("t")),
                9,
            ).alias("burstiness"),
        )
    )
    from pyspark.sql import Window

    # Materialize the vocabulary-bounded scored frame once: it feeds
    # both the TakeOrdered threshold probe and the survivor filter
    # (the part_qty_topk_ties barrier idiom).
    scored = scored.localCheckpoint(eager=True)
    kth = (
        scored.orderBy(F.desc("burstiness"), "token")
        .limit(20)
        .agg(F.min("burstiness").alias("cut"))
    )
    # burstiness >= cut keeps the top 20 plus any value-ties past the
    # boundary — a bounded set — and row_number's (desc, token) order
    # then reproduces the exact former global ranking on it. An empty
    # scored frame gives cut = NULL, the join predicate is never true,
    # and the result is empty exactly as before.
    survivors = scored.join(
        F.broadcast(kth), F.col("burstiness") >= F.col("cut")
    ).drop("cut")
    w = Window.orderBy(F.desc("burstiness"), "token")
    return (
        survivors.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 20)
        .orderBy("rnk")
    )


_VOCAB_BURSTINESS_ORACLE = """
WITH dtok AS (
  SELECT doc_id, tok AS token, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents)
  WHERE tok <> '' GROUP BY 1, 2
), tok AS (
  SELECT token, CAST(count(*) AS BIGINT) AS df,
         CAST(sum(c) AS BIGINT) AS t,
         CAST(sum(c * c) AS BIGINT) AS q
  FROM dtok GROUP BY 1
), nd AS (
  SELECT CAST(count(*) AS BIGINT) AS nd FROM documents
), scored AS (
  SELECT token, df, t AS total_occ,
         round(CAST(nd * q - t * t AS DOUBLE) / (nd * t), 9)
           AS burstiness
  FROM tok, nd WHERE df >= 5
)
SELECT token, df, total_occ, burstiness, rnk FROM (
  SELECT *, CAST(row_number() OVER (
    ORDER BY burstiness DESC, token) AS BIGINT) AS rnk
  FROM scored)
WHERE rnk <= 20 ORDER BY rnk
"""


def q_incident_allen_relations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I5 — Allen's interval-algebra census over the I3 interval sets:
    classify every per-user (daily activity span × merged error
    incident) pair into the 13 mutually-exclusive Allen relations
    (before/meets/overlaps/starts/during/finishes, their inverses,
    equals) and report the corpus histogram — the temporal-reasoning
    primitive behind "did the incident interrupt, bracket, or merely
    touch the session?". All endpoints are exact epoch seconds, so
    every relation is an integer comparison chain, identical on both
    engines.

    Plan: the same bounded per-user equi-join as I3 (days × incidents
    per user, never a cross join); the CASE ladder is JVM-side; one
    13-row rollup ends the plan."""
    from floatchat_datapipeline_spark.functions.eventtime import (
        epoch_seconds,
    )
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        epoch_seconds(F.col("ts")).alias("es"),
    )
    act = (
        ev.groupBy("user_id", F.expr("es div 86400").alias("day"))
        .agg(F.min("es").alias("a1"), F.max("es").alias("a2"))
        .filter(F.col("a2") > F.col("a1"))
        .select("user_id", "a1", "a2")
    )
    err = ev.filter(F.col("event_type") == "error").select(
        "user_id", "es"
    )
    w = Window.partitionBy("user_id").orderBy("es", "user_id")
    prev_end = F.max(F.col("es") + 3600).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = err.select(
        "user_id",
        "es",
        F.when(
            prev_end.isNull() | (F.col("es") > prev_end), F.lit(1)
        )
        .otherwise(F.lit(0))
        .alias("new_island"),
    )
    island = flagged.withColumn(
        "isl",
        F.sum("new_island").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    inc = island.groupBy("user_id", "isl").agg(
        F.min("es").alias("b1"),
        (F.max("es") + 3600).alias("b2"),
    )
    pairs = act.join(inc, "user_id")
    a1, a2 = F.col("a1"), F.col("a2")
    b1, b2 = F.col("b1"), F.col("b2")
    rel = (
        F.when((a1 == b1) & (a2 == b2), F.lit("equals"))
        .when(a2 < b1, F.lit("before"))
        .when(b2 < a1, F.lit("after"))
        .when(a2 == b1, F.lit("meets"))
        .when(b2 == a1, F.lit("met_by"))
        .when((a1 == b1) & (a2 < b2), F.lit("starts"))
        .when((a1 == b1) & (a2 > b2), F.lit("started_by"))
        .when((a2 == b2) & (a1 > b1), F.lit("finishes"))
        .when((a2 == b2) & (a1 < b1), F.lit("finished_by"))
        .when((a1 > b1) & (a2 < b2), F.lit("during"))
        .when((a1 < b1) & (a2 > b2), F.lit("contains"))
        .when((a1 < b1) & (b1 < a2) & (a2 < b2), F.lit("overlaps"))
        .otherwise(F.lit("overlapped_by"))
    )
    return (
        pairs.select(rel.alias("relation"))
        .groupBy("relation")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("relation")
    )


_INCIDENT_ALLEN_RELATIONS_ORACLE = """
WITH ev AS (
  SELECT user_id, event_type,
         CAST(epoch_us(ts) // 1000000 AS BIGINT) AS es
  FROM events
), act AS (
  SELECT user_id, CAST(min(es) AS BIGINT) AS a1,
         CAST(max(es) AS BIGINT) AS a2
  FROM (SELECT user_id, es, es // 86400 AS day FROM ev)
  GROUP BY user_id, day HAVING max(es) > min(es)
), err AS (
  SELECT user_id, es FROM ev WHERE event_type = 'error'
), flagged AS (
  SELECT user_id, es,
         CASE WHEN max(es + 3600) OVER (
                PARTITION BY user_id ORDER BY es, user_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              IS NULL
           OR es > max(es + 3600) OVER (
                PARTITION BY user_id ORDER BY es, user_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         THEN 1 ELSE 0 END AS new_island
  FROM err
), island AS (
  SELECT user_id, es,
         sum(new_island) OVER (
           PARTITION BY user_id ORDER BY es, user_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
  FROM flagged
), inc AS (
  SELECT user_id, CAST(min(es) AS BIGINT) AS b1,
         CAST(max(es) + 3600 AS BIGINT) AS b2
  FROM island GROUP BY user_id, isl
), pairs AS (
  SELECT CASE
    WHEN a1 = b1 AND a2 = b2 THEN 'equals'
    WHEN a2 < b1 THEN 'before'
    WHEN b2 < a1 THEN 'after'
    WHEN a2 = b1 THEN 'meets'
    WHEN b2 = a1 THEN 'met_by'
    WHEN a1 = b1 AND a2 < b2 THEN 'starts'
    WHEN a1 = b1 AND a2 > b2 THEN 'started_by'
    WHEN a2 = b2 AND a1 > b1 THEN 'finishes'
    WHEN a2 = b2 AND a1 < b1 THEN 'finished_by'
    WHEN a1 > b1 AND a2 < b2 THEN 'during'
    WHEN a1 < b1 AND b2 < a2 THEN 'contains'
    WHEN a1 < b1 AND b1 < a2 AND a2 < b2 THEN 'overlaps'
    ELSE 'overlapped_by' END AS relation
  FROM act JOIN inc USING (user_id)
)
SELECT relation, CAST(count(*) AS BIGINT) AS n_pairs
FROM pairs GROUP BY 1 ORDER BY relation
"""


def q_events_rank_biserial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A64 — rank-biserial correlation, the EFFECT SIZE companion to
    A55's Mann–Whitney test (the same pairing as A63→A42: the test
    says "different", r ∈ [−1, 1] says "by how much", N-free):
    r = 1 − 2U/(nₐ·n_b), with U from the same DOUBLED-midrank BIGINT
    machinery (2U = R2ₐ/... kept integral as 2Uₐ = r2a − nₐ(nₐ+1), so
    r and the common-language effect size CL = Uₐ/(nₐn_b) are single
    double trees over exact integers, rounded 1e-9). |r| labels at the
    conventional 0.1/0.3/0.5 cuts.

    Plan: identical shape to A55 — one (type, cents) partial agg, one
    type-partitioned window, one per-type rollup."""
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    g = ev.groupBy(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("v"),
    ).agg(
        F.sum(
            F.when(F.col("user_id") % 2 == 0, F.lit(1)).otherwise(
                F.lit(0)
            )
        ).alias("ta"),
        F.sum(
            F.when(F.col("user_id") % 2 == 1, F.lit(1)).otherwise(
                F.lit(0)
            )
        ).alias("tb"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = g.withColumn(
        "cless",
        F.coalesce(F.sum(F.col("ta") + F.col("tb")).over(w), F.lit(0)),
    )
    t = F.col("ta") + F.col("tb")
    stats = cum.groupBy("event_type").agg(
        F.sum("ta").alias("n_a"),
        F.sum("tb").alias("n_b"),
        F.sum(
            F.col("ta") * (F.lit(2) * F.col("cless") + t + F.lit(1))
        ).alias("r2a"),
    )
    # 2Uₐ = r2a − nₐ(nₐ+1)  (doubled ranks clear the midrank halves)
    u2 = F.col("r2a") - F.col("n_a") * (F.col("n_a") + 1)
    # Degenerate guard, structurally safe (q_events_anova_f round-13
    # pattern): an EMPTY variant makes the nₐ·n_b divisor 0 — effect
    # size against no comparison group is undefined, and try_divide
    # NULLs it without any branch whose position matters. The NULL
    # propagates through r into every banding condition, so the
    # strength label NULLs too (each band carries its own condition —
    # no otherwise() for garbage to fall through to).
    cl = F.try_divide(
        u2.cast("double"), F.lit(2.0) * F.col("n_a") * F.col("n_b")
    )
    r = F.lit(1.0) - F.lit(2.0) * cl
    return stats.select(
        "event_type",
        "n_a",
        "n_b",
        F.round(cl, 9).alias("common_language"),
        F.round(r, 9).alias("rank_biserial"),
        F.when(F.abs(r) < 0.1, F.lit("negligible"))
        .when(F.abs(r) < 0.3, F.lit("small"))
        .when(F.abs(r) < 0.5, F.lit("medium"))
        .when(F.abs(r) >= 0.5, F.lit("large"))
        .alias("strength"),
    ).orderBy("event_type")


_EVENTS_RANK_BISERIAL_ORACLE = """
WITH g AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v,
         CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS ta,
         CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS tb
  FROM events GROUP BY 1, 2
), c AS (
  SELECT *, ta + tb AS t,
         CAST(coalesce(sum(ta + tb) OVER (
           PARTITION BY event_type ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS cless
  FROM g
), s AS (
  SELECT event_type,
         CAST(sum(ta) AS BIGINT) AS n_a,
         CAST(sum(tb) AS BIGINT) AS n_b,
         CAST(sum(ta * (2 * cless + t + 1)) AS BIGINT) AS r2a
  FROM c GROUP BY 1
), o AS (
  SELECT event_type, n_a, n_b,
         -- structurally safe divisor (nullif ≍ Spark try_divide): an
         -- empty variant NULLs cl, and the NULL propagates through r
         -- into every banding condition — no guard branch order to
         -- keep in sync with the Spark side
         CAST(r2a - n_a * (n_a + 1) AS DOUBLE)
           / nullif(2e0 * n_a * n_b, 0e0) AS cl
  FROM s
)
SELECT event_type, n_a, n_b,
       round(cl, 9) AS common_language,
       round(1e0 - 2e0 * cl, 9) AS rank_biserial,
       CASE WHEN abs(1e0 - 2e0 * cl) < 0.1e0 THEN 'negligible'
            WHEN abs(1e0 - 2e0 * cl) < 0.3e0 THEN 'small'
            WHEN abs(1e0 - 2e0 * cl) < 0.5e0 THEN 'medium'
            WHEN abs(1e0 - 2e0 * cl) >= 0.5e0 THEN 'large'
            END AS strength
FROM o ORDER BY event_type
"""


def q_events_degraded_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS34 — longest degraded streak per event type: flag every hour
    whose count exceeds 2× the series median (exact R-7 percentile on
    integer counts — both engines interpolate identically), then the
    classic gaps-and-islands fold (island id = h − dense position)
    finds the LONGEST consecutive run of flagged hours and where it
    started — the SLO question "what was our worst sustained
    overload?", where TS33's peaks ask only about single hours.
    Everything after the one median comparison is exact integers.

    Plan: hourly rollup (only fact shuffle), a per-type percentile on
    the bounded spine, one type-partitioned row_number window, one
    rollup."""
    from floatchat_datapipeline_spark.functions.eventtime import (
        epoch_micros,
        long_div,
    )
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        long_div(epoch_micros(F.col("ts")), 3_600_000_000).alias("h"),
    ).agg(F.count(F.lit(1)).alias("c"))
    bounds = hourly.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    spine = (
        hourly.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(F.sequence("h0", "h1")).alias("h"),
        )
    )
    dense = spine.join(hourly, ["event_type", "h"], "left").select(
        "event_type", "h", F.coalesce("c", F.lit(0)).alias("c")
    )
    med = dense.groupBy("event_type").agg(
        F.expr("percentile(c, 0.5e0)").alias("med")
    )
    flagged = (
        dense.join(F.broadcast(med), "event_type")
        .filter(F.col("c") > F.lit(2.0) * F.col("med"))
        .select("event_type", "h")
    )
    w = Window.partitionBy("event_type").orderBy("h")
    isl = flagged.withColumn(
        "island", F.col("h") - F.row_number().over(w)
    )
    runs = isl.groupBy("event_type", "island").agg(
        F.count(F.lit(1)).alias("run_len"),
        F.min("h").alias("run_start"),
    )
    best = runs.groupBy("event_type").agg(
        F.sum("run_len").alias("n_degraded_hours"),
        F.max(
            F.struct(
                F.col("run_len"), (-F.col("run_start")).alias("ns")
            )
        ).alias("b"),
    )
    return best.select(
        "event_type",
        "n_degraded_hours",
        F.col("b.run_len").alias("longest_run"),
        (-F.col("b.ns")).alias("run_start_h"),
    ).orderBy("event_type")


_EVENTS_DEGRADED_STREAK_ORACLE = """
WITH hourly AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS h,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
), bounds AS (
  SELECT min(h) AS h0, max(h) AS h1 FROM hourly
), dense AS (
  SELECT t.event_type, g.h, CAST(coalesce(e.c, 0) AS BIGINT) AS c
  FROM (SELECT DISTINCT event_type FROM hourly) t
  CROSS JOIN (SELECT unnest(range(h0, h1 + 1)) AS h FROM bounds) g
  LEFT JOIN hourly e ON t.event_type = e.event_type AND g.h = e.h
), med AS (
  SELECT event_type, quantile_cont(c, 0.5e0) AS med
  FROM dense GROUP BY 1
), flagged AS (
  SELECT d.event_type, d.h
  FROM dense d JOIN med USING (event_type)
  WHERE c > 2e0 * med
), isl AS (
  SELECT event_type, h,
         h - row_number() OVER (
           PARTITION BY event_type ORDER BY h) AS island
  FROM flagged
), runs AS (
  SELECT event_type, island,
         CAST(count(*) AS BIGINT) AS run_len,
         CAST(min(h) AS BIGINT) AS run_start
  FROM isl GROUP BY 1, 2
), best AS (
  SELECT event_type,
         CAST(sum(run_len) AS BIGINT) AS n_degraded_hours,
         max(ROW(run_len, -run_start)) AS b
  FROM runs GROUP BY 1
)
SELECT event_type, n_degraded_hours,
       b[1] AS longest_run, -(b[2]) AS run_start_h
FROM best ORDER BY event_type
"""


def q_emb_centroid_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V20 — nearest-centroid classifier evaluation: assign every
    embedding to the label whose centroid it is most cosine-similar
    to, and report per-label resubstitution accuracy (the quick
    label-quality / cluster-separation check before spending on a real
    classifier — a label whose members don't even claim their own
    centroid is mislabeled or multi-modal; the eval twin of V18's
    centroid audit). Dots run on exact 1e-6 micro integers against the
    BIGINT per-(label, dim) centroid sums in DECIMAL(20,0) products
    (the V18 algebra); argmax takes max(struct(cos, −label)) over the
    ten identical doubles both engines compute. Resubstitution (the
    row's own vector stays in its centroid) — documented, not hidden.

    Scale: the (row × label) dot frame is corpus × |labels| (not
    corpus²) via one posexplode join against the labels×64 broadcast;
    one argmax agg and one per-label rollup end the plan."""
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .filter(
            F.col("embedding").isNotNull() & (F.size("embedding") == 64)
        )
        .select(
            "vec_id",
            F.col("label").alias("true_label"),
            F.transform(
                "embedding",
                lambda x: F.round(x.cast("double") * 1e6, 0).cast(
                    "long"
                ),
            ).alias("mic"),
        )
    )
    emb = emb.localCheckpoint(eager=True)  # feeds centroid AND eval
    rows_ = emb.select(
        "vec_id",
        "true_label",
        F.posexplode("mic").alias("dim", "m"),
    )
    ld = rows_.groupBy(
        F.col("true_label").alias("label"), "dim"
    ).agg(F.sum("m").alias("s"))
    dec = lambda c: F.col(c).cast("decimal(20,0)")  # noqa: E731
    cnorm = ld.groupBy("label").agg(
        F.sum(dec("s") * dec("s")).alias("ns")
    )
    dots = (
        rows_.join(F.broadcast(ld), "dim")
        .groupBy("vec_id", "true_label", "label")
        .agg(F.sum(dec("m") * dec("s")).alias("dot"))
    )
    rnorm = emb.select(
        "vec_id",
        F.aggregate(
            F.transform("mic", lambda x: x * x),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("nr"),
    )
    # Zero-norm guard, nearest_centroid sentinel convention: a zero-norm
    # row (nr=0) or an all-zero label centroid (ns=0) has no defined
    # cosine — a -2.0 sentinel keeps the argmax a TOTAL order (an
    # all-sentinel row ties every label; -label tiebreak predicts the
    # lowest label id) instead of aborting under ANSI mode. Mirrored
    # CASE in the oracle.
    cos = F.when(
        (F.col("nr") != F.lit(0)) & (F.col("ns") != F.lit(0)),
        F.col("dot").cast("double")
        / (
            F.sqrt(F.col("nr").cast("double"))
            * F.sqrt(F.col("ns").cast("double"))
        ),
    ).otherwise(F.lit(-2.0))
    pred = (
        dots.join(F.broadcast(cnorm), "label")
        .join(rnorm, "vec_id")
        .groupBy("vec_id", "true_label")
        .agg(
            F.max(
                F.struct(
                    cos.alias("cs"), (-F.col("label")).alias("nl")
                )
            ).alias("w")
        )
        .select(
            "vec_id",
            "true_label",
            (-F.col("w.nl")).alias("pred_label"),
        )
    )
    return (
        pred.groupBy(F.col("true_label").alias("label"))
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum(
                (F.col("pred_label") == F.col("true_label")).cast(
                    "long"
                )
            ).alias("n_correct"),
        )
        .select(
            "label",
            "n_vecs",
            "n_correct",
            (
                F.col("n_correct").cast("double") / F.col("n_vecs")
            ).alias("accuracy"),
        )
        .orderBy("label")
    )


_EMB_CENTROID_CLASSIFIER_ORACLE = """
WITH base AS (
  SELECT vec_id, label AS true_label,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS mic
  FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) = 64
), ld AS (
  SELECT true_label AS label, g.i AS dim,
         CAST(sum(mic[g.i]) AS BIGINT) AS s
  FROM base, (SELECT unnest(range(1, 65)) AS i) g
  GROUP BY 1, 2
), cnorm AS (
  SELECT label, CAST(sum(CAST(s AS HUGEINT) * s) AS HUGEINT) AS ns
  FROM ld GROUP BY 1
), dots AS (
  SELECT b.vec_id, b.true_label, ld.label,
         CAST(sum(CAST(mic[ld.dim] AS HUGEINT) * ld.s) AS HUGEINT)
           AS dot
  FROM base b, ld
  GROUP BY 1, 2, 3
), rnorm AS (
  SELECT vec_id,
         CAST(list_sum(list_transform(mic, x -> x * x)) AS BIGINT)
           AS nr
  FROM base
), pred AS (
  SELECT d.vec_id, d.true_label,
         max(ROW(CASE WHEN nr = 0 OR ns = 0 THEN CAST(-2.0 AS DOUBLE)
                 ELSE CAST(dot AS DOUBLE)
                 / (sqrt(CAST(nr AS DOUBLE))
                    * sqrt(CAST(ns AS DOUBLE))) END,
                 -d.label)) AS w
  FROM dots d JOIN cnorm USING (label) JOIN rnorm USING (vec_id)
  GROUP BY 1, 2
)
SELECT true_label AS label,
       CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(sum(CASE WHEN -(w[2]) = true_label THEN 1 ELSE 0 END)
            AS BIGINT) AS n_correct,
       CAST(sum(CASE WHEN -(w[2]) = true_label THEN 1 ELSE 0 END)
            AS BIGINT) / CAST(count(*) AS DOUBLE) AS accuracy
FROM pred GROUP BY 1 ORDER BY label
"""


def q_erddap_url_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8/S1 — the ERDDAP tabledap URL builder under the value gate:
    one declarative subset request per nation row (dataset, projected
    variables, and lat/lon/cycle/time constraint triples derived from
    n_nationkey — deterministic and SF-invariant, nation is 25 rows at
    every SF) renders through sources/erddap.ErddapRequest.url() —
    projection + predicate pushdown encoded into the query string, the
    reference's download-URL shape (ingest/load_data.py:105-156) — and
    the BUILT url strings hash-match a DuckDB oracle that concatenates
    the same URLs from SQL literals. Every quirk of the builder is on
    the hash path: variable-list join, constraint rendering order,
    float repr (``-36.0`` not ``-36``), bare ints, the unquoted
    Z-suffixed time form, and the percent-quoting safe set (all
    characters here are in it, so a builder that started quoting
    ``>=`` would mismatch).

    Scale: URL rendering is the per-download-unit planning step (one
    URL per float/region/month at 100 TB) and runs map-side in
    mapInPandas over the request frame — no shuffle, no driver loop;
    the only exchange is the presentational 25-row sort."""
    from floatchat_datapipeline_spark.sources.erddap import ErddapRequest

    nat = load_table(spark, sf_dir, "nation")

    def build(batches):
        import pandas as pd  # noqa: PLC0415

        for pdf in batches:
            rows = []
            for k in pdf["n_nationkey"].astype(int):
                k = int(k)
                month = k % 12 + 1
                req = ErddapRequest(
                    dataset=f"floats_{k}",
                    variables=(
                        "platform_number",
                        "time",
                        "latitude",
                        "longitude",
                        "pres",
                        "temp",
                        "psal",
                    ),
                    constraints=(
                        ("latitude", ">=", -60.0 + k),
                        ("latitude", "<=", 30.0 + k),
                        ("longitude", ">=", 20.0 + 2 * k),
                        ("longitude", "<", 120),
                        ("cycle_number", "=", k),
                        ("time", ">=", f"2020-{month:02d}-01T00:00:00Z"),
                    ),
                )
                rows.append((k, req.url(), len(req.constraints)))
            yield pd.DataFrame(
                rows, columns=["n_nationkey", "url", "n_constraints"]
            )

    return (
        nat.select("n_nationkey")
        .mapInPandas(
            build, "n_nationkey long, url string, n_constraints long"
        )
        .orderBy("n_nationkey")
    )


_ERDDAP_URL_BUILD_ORACLE = """
SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
       'https://www.ifremer.fr/erddap/tabledap/floats_'
       || CAST(n_nationkey AS VARCHAR) || '.nc?'
       || 'platform_number,time,latitude,longitude,pres,temp,psal'
       || '&latitude>=' || CAST(-60.0 + n_nationkey AS VARCHAR)
       || '&latitude<=' || CAST(30.0 + n_nationkey AS VARCHAR)
       || '&longitude>=' || CAST(20.0 + 2 * n_nationkey AS VARCHAR)
       || '&longitude<120'
       || '&cycle_number=' || CAST(n_nationkey AS VARCHAR)
       || '&time>=2020-'
       || lpad(CAST(n_nationkey % 12 + 1 AS VARCHAR), 2, '0')
       || '-01T00:00:00Z' AS url,
       CAST(6 AS BIGINT) AS n_constraints
FROM nation ORDER BY n_nationkey
"""


def q_table_key_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K16 — primary-key integrity certificate, the data-contract audit
    every lakehouse ingestion runs before trusting a key downstream
    (motivated by this round's robustness finding: duplicate ids turn
    dedup/ANN oracles incomparable — see ROBUSTNESS.md). Per audited
    (table, key): row count, distinct non-null keys, rows involved in a
    duplicated key, the hottest key's multiplicity, null-key rows, and
    the uniqueness verdict. The audit list mixes contract keys that
    must be unique (ids, order keys) with keys that are legitimately
    repeated (events.user_id, lineitem.l_orderkey) so the certificate
    DISCRIMINATES at every SF: the dup counters are non-zero where they
    should be and zero where uniqueness is the contract.

    Scale: one partial-aggregable group-size rollup per audited key
    (the D13 rule — counts from group sizes, nothing pairs), then a
    1-row reduce per key; the union is audits-sized. At 100 TB each
    rollup is the table's only scan and the shuffle carries partial
    counts, never rows."""

    def audit(df: DataFrame, table: str, key: str) -> DataFrame:
        nn = F.col("k").isNotNull()
        g = (
            df.select(F.col(key).cast("string").alias("k"))
            .groupBy("k")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        return g.agg(
            F.lit(table).alias("table_name"),
            F.lit(key).alias("key_col"),
            F.coalesce(F.sum("c"), F.lit(0)).alias("n_rows"),
            F.count(F.when(nn, 1)).alias("n_keys"),
            F.coalesce(
                F.sum(F.when((F.col("c") > 1) & nn, F.col("c"))), F.lit(0)
            ).alias("n_dup_rows"),
            F.coalesce(F.max(F.when(nn, F.col("c"))), F.lit(0)).alias(
                "max_multiplicity"
            ),
            F.coalesce(F.sum(F.when(~nn, F.col("c"))), F.lit(0)).alias(
                "n_null_rows"
            ),
        )

    parts = [
        audit(load_table(spark, sf_dir, "embeddings"), "embeddings", "vec_id"),
        audit(load_table(spark, sf_dir, "documents"), "documents", "doc_id"),
        audit(load_table(spark, sf_dir, "events"), "events", "event_id"),
        audit(load_table(spark, sf_dir, "events"), "events", "user_id"),
        audit(load_table(spark, sf_dir, "orders"), "orders", "o_orderkey"),
        audit(load_table(spark, sf_dir, "lineitem"), "lineitem", "l_orderkey"),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select(
        "table_name",
        "key_col",
        "n_rows",
        "n_keys",
        "n_dup_rows",
        "max_multiplicity",
        "n_null_rows",
        (
            (F.col("n_dup_rows") == 0) & (F.col("n_null_rows") == 0)
        ).alias("unique_ok"),
    ).orderBy("table_name", "key_col")


_TABLE_KEY_AUDIT_ORACLE = """
WITH audits AS (
  SELECT 'embeddings' AS table_name, 'vec_id' AS key_col,
         CAST(vec_id AS VARCHAR) AS k FROM embeddings
  UNION ALL
  SELECT 'documents', 'doc_id', CAST(doc_id AS VARCHAR) FROM documents
  UNION ALL
  SELECT 'events', 'event_id', CAST(event_id AS VARCHAR) FROM events
  UNION ALL
  SELECT 'events', 'user_id', CAST(user_id AS VARCHAR) FROM events
  UNION ALL
  SELECT 'orders', 'o_orderkey', CAST(o_orderkey AS VARCHAR) FROM orders
  UNION ALL
  SELECT 'lineitem', 'l_orderkey', CAST(l_orderkey AS VARCHAR)
  FROM lineitem
), sizes AS (
  SELECT table_name, key_col, k, CAST(count(*) AS BIGINT) AS c
  FROM audits GROUP BY 1, 2, 3
)
SELECT table_name, key_col,
       CAST(coalesce(sum(c), 0) AS BIGINT) AS n_rows,
       CAST(count(*) FILTER (k IS NOT NULL) AS BIGINT) AS n_keys,
       CAST(coalesce(sum(c) FILTER (c > 1 AND k IS NOT NULL), 0)
            AS BIGINT) AS n_dup_rows,
       CAST(coalesce(max(c) FILTER (k IS NOT NULL), 0) AS BIGINT)
         AS max_multiplicity,
       CAST(coalesce(sum(c) FILTER (k IS NULL), 0) AS BIGINT)
         AS n_null_rows,
       (coalesce(sum(c) FILTER (c > 1 AND k IS NOT NULL), 0) = 0
        AND coalesce(sum(c) FILTER (k IS NULL), 0) = 0) AS unique_ok
FROM sizes GROUP BY 1, 2 ORDER BY table_name, key_col
"""


def q_fk_orphan_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K17 — referential-integrity audit (K16's companion): per foreign
    key edge, how many child rows/keys point at a parent key that does
    not exist? The TPC-H edges (lineitem→orders/part/supplier,
    orders→customer) are clean by construction — the zero-orphan
    certificate — while events.user_id→supplier is an honestly BROKEN
    edge at every SF (the user-id domain exceeds the supplier keys:
    5/15 orphan users at sf0.001, 50/150 at sf0.01), so the audit
    demonstrably detects orphans. A NULL child key counts as an orphan
    (it references nothing).

    Scale: child keys collapse to a group-size rollup (partial-agg,
    one scan per child table), parents to a distinct key list; the
    audit join then runs at KEY cardinality, never row cardinality —
    AQE broadcasts the dim-sized parent sides. One IEEE division per
    edge for row coverage, NULL-guarded for the empty-child edge."""

    def edge(
        fk: str, child: DataFrame, ckey: str, parent: DataFrame, pkey: str
    ) -> DataFrame:
        ck = (
            child.select(F.col(ckey).cast("string").alias("k"))
            .groupBy("k")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        pk = parent.select(
            F.col(pkey).cast("string").alias("pk")
        ).distinct()
        orphan = F.col("pk").isNull()
        return (
            ck.join(pk, ck["k"] == pk["pk"], "left")
            .agg(
                F.lit(fk).alias("fk"),
                F.coalesce(F.sum("c"), F.lit(0)).alias("n_child_rows"),
                F.count(F.lit(1)).alias("n_child_keys"),
                F.coalesce(
                    F.sum(F.when(orphan, F.col("c"))), F.lit(0)
                ).alias("n_orphan_rows"),
                F.count(F.when(orphan, 1)).alias("n_orphan_keys"),
            )
            # empty-child parity: an ungrouped agg over an empty input
            # fabricates one all-zero row where the oracle's GROUP BY fk
            # emits none; n_child_keys = count(*) = 0 happens ONLY on an
            # empty child, so this filter drops exactly that row — a
            # Filter node, not the extra exchange a grouped agg (literal
            # or tagged key) was measured to add (plan audit 15 -> 16:
            # grouping breaks the single-partition shape that lets the
            # final orderBy skip its range exchange).
            .filter(F.col("n_child_keys") > 0)
        )

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    parts = [
        edge("lineitem->orders", li, "l_orderkey", orders, "o_orderkey"),
        edge(
            "lineitem->part",
            li,
            "l_partkey",
            load_table(spark, sf_dir, "part"),
            "p_partkey",
        ),
        edge(
            "lineitem->supplier",
            li,
            "l_suppkey",
            load_table(spark, sf_dir, "supplier"),
            "s_suppkey",
        ),
        edge(
            "orders->customer",
            orders,
            "o_custkey",
            load_table(spark, sf_dir, "customer"),
            "c_custkey",
        ),
        edge(
            "events.user->supplier",
            load_table(spark, sf_dir, "events"),
            "user_id",
            load_table(spark, sf_dir, "supplier"),
            "s_suppkey",
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    # degenerate guard: an empty child table has no coverage to report
    return out.select(
        "fk",
        "n_child_rows",
        "n_child_keys",
        "n_orphan_rows",
        "n_orphan_keys",
        F.when(
            F.col("n_child_rows") != F.lit(0),
            F.lit(1.0)
            - F.col("n_orphan_rows").cast("double")
            / F.col("n_child_rows"),
        ).alias("row_coverage"),
    ).orderBy("fk")


_FK_ORPHAN_AUDIT_ORACLE = """
WITH child AS (
  SELECT 'lineitem->orders' AS fk, CAST(l_orderkey AS VARCHAR) AS k
  FROM lineitem
  UNION ALL SELECT 'lineitem->part', CAST(l_partkey AS VARCHAR)
  FROM lineitem
  UNION ALL SELECT 'lineitem->supplier', CAST(l_suppkey AS VARCHAR)
  FROM lineitem
  UNION ALL SELECT 'orders->customer', CAST(o_custkey AS VARCHAR)
  FROM orders
  UNION ALL SELECT 'events.user->supplier', CAST(user_id AS VARCHAR)
  FROM events
), parent AS (
  SELECT 'lineitem->orders' AS fk, CAST(o_orderkey AS VARCHAR) AS pk
  FROM orders
  UNION ALL SELECT 'lineitem->part', CAST(p_partkey AS VARCHAR) FROM part
  UNION ALL SELECT 'lineitem->supplier', CAST(s_suppkey AS VARCHAR)
  FROM supplier
  UNION ALL SELECT 'orders->customer', CAST(c_custkey AS VARCHAR)
  FROM customer
  UNION ALL SELECT 'events.user->supplier', CAST(s_suppkey AS VARCHAR)
  FROM supplier
), ckeys AS (
  SELECT fk, k, CAST(count(*) AS BIGINT) AS c FROM child GROUP BY 1, 2
), pkeys AS (
  SELECT DISTINCT fk, pk FROM parent
), joined AS (
  SELECT c.fk, c.c, p.pk IS NULL AS orphan
  FROM ckeys c LEFT JOIN pkeys p ON c.fk = p.fk AND c.k = p.pk
)
SELECT fk,
       CAST(coalesce(sum(c), 0) AS BIGINT) AS n_child_rows,
       CAST(count(*) AS BIGINT) AS n_child_keys,
       CAST(coalesce(sum(c) FILTER (orphan), 0) AS BIGINT)
         AS n_orphan_rows,
       CAST(count(*) FILTER (orphan) AS BIGINT) AS n_orphan_keys,
       CASE WHEN coalesce(sum(c), 0) = 0 THEN NULL
       ELSE 1e0 - CAST(coalesce(sum(c) FILTER (orphan), 0) AS DOUBLE)
              / sum(c) END AS row_coverage
FROM joined GROUP BY fk ORDER BY fk
"""


def q_emb_dead_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V21 — dead-embedding health audit per label: null vectors, wrong
    dimensionality, non-finite components (NaN/±Inf), and exact-zero
    norm — the four ways an embedding row is unusable for similarity
    (cosine is undefined on a zero norm; this round's ROBUSTNESS drain
    made the engine NULL those scores, and this audit is the monitoring
    query that finds the rows upstream). V6's emb_audit certifies the
    healthy corpus shape; this one counts the pathologies by class so
    an ingestion regression points at its cause.

    Flag order matters and is mirrored in the oracle: zero-norm is only
    tested on finite, right-sized vectors (a NaN sum would poison the
    comparison). All counters are exact integers from ONE map-side pass
    + one partial-aggregable rollup to the label domain; the fraction
    is one IEEE division per label (n_vecs ≥ 1 by construction).

    Scale: map-only flags, label-bounded output — the table's single
    scan is the whole cost at 100 TB."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.col("embedding")
    is_null = v.isNull()
    wrong_dim = v.isNotNull() & (F.size(v) != 64)
    finite_shape = v.isNotNull() & (F.size(v) == 64)
    # a NULL element counts as non-finite: the parquet writer layer
    # (pyarrow from_pandas) stores a NaN list element AS null, so both
    # engines see null where the producer had NaN
    has_nonfinite = F.exists(
        v,
        lambda x: x.isNull()
        | F.isnan(x.cast("double"))
        | (F.abs(x.cast("double")) == F.lit(float("inf"))),
    )
    nonfinite = finite_shape & has_nonfinite
    zero_norm = (
        finite_shape
        & ~has_nonfinite
        & (
            F.aggregate(
                v,
                F.lit(0.0),
                lambda acc, x: acc + x.cast("double") * x.cast("double"),
            )
            == F.lit(0.0)
        )
    )
    dead = is_null | wrong_dim | nonfinite | zero_norm
    return (
        emb.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum(is_null.cast("long")).alias("n_null"),
            F.sum(wrong_dim.cast("long")).alias("n_wrong_dim"),
            F.sum(nonfinite.cast("long")).alias("n_nonfinite"),
            F.sum(zero_norm.cast("long")).alias("n_zero_norm"),
            (
                F.sum(dead.cast("long")).cast("double")
                / F.count(F.lit(1))
            ).alias("dead_fraction"),
        )
        .orderBy("label")
    )


_EMB_DEAD_ROWS_ORACLE = """
WITH flags AS (
  SELECT label,
         (embedding IS NULL) AS is_null,
         (embedding IS NOT NULL AND len(embedding) != 64) AS wrong_dim,
         (embedding IS NOT NULL AND len(embedding) = 64 AND
          len(list_filter(embedding, v -> v IS NULL
              OR isnan(CAST(v AS DOUBLE))
              OR isinf(CAST(v AS DOUBLE)))) > 0) AS nonfinite,
         (embedding IS NOT NULL AND len(embedding) = 64 AND
          len(list_filter(embedding, v -> v IS NULL
              OR isnan(CAST(v AS DOUBLE))
              OR isinf(CAST(v AS DOUBLE)))) = 0 AND
          list_sum(list_transform(embedding,
              v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))) = 0)
           AS zero_norm
  FROM embeddings
)
SELECT label,
       CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(count(*) FILTER (is_null) AS BIGINT) AS n_null,
       CAST(count(*) FILTER (wrong_dim) AS BIGINT) AS n_wrong_dim,
       CAST(count(*) FILTER (nonfinite) AS BIGINT) AS n_nonfinite,
       CAST(count(*) FILTER (zero_norm) AS BIGINT) AS n_zero_norm,
       CAST(count(*) FILTER (is_null OR wrong_dim OR nonfinite
                             OR zero_norm) AS DOUBLE) / count(*)
         AS dead_fraction
FROM flags GROUP BY label ORDER BY label
"""


def q_events_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A65 — deterministic cluster bootstrap CI for the mean event value
    per event type: B = 20 resamples where every USER (the correlation
    cluster, A61's jackknife unit) draws a hash weight w ∈ {0, 1, 1, 2}
    (mean 1, Efron-style multiplicity stand-in) from
    md5('bs|' || user_id || '|' || b) mod 4 — no RNG state, so both
    engines draw the identical resamples. Each resample's mean is
    Σw·s_u / Σw·n_u (exact BIGINT sums, ONE IEEE division); the interval
    is the 2nd-smallest / 2nd-largest of the valid resample means (the
    ~90 % percentile interval at B = 20). Resamples that drop every
    user (Σw·n = 0 — possible on tiny corpora) are excluded and
    reported via n_resamples; fewer than two valid resamples NULLs the
    interval rather than fabricating one.

    Scale: one user-grain partial-agg rollup is the only fact shuffle;
    the ×20 expansion happens on the |users|-row rollup (broadcast
    b-frame), and the final order statistics sort a ≤20-element array
    per type. The bootstrap complements A61's jackknife (which cannot
    see skewed sampling distributions) at the same plan cost."""
    from floatchat_datapipeline_spark.functions.textstats import md5_long

    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("n_u"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("s_u"),
    )
    tot = per_user.groupBy("event_type").agg(
        F.sum("n_u").alias("n_events"),
        (F.sum("s_u").cast("double") / F.sum("n_u")).alias("mean_cents"),
    )
    bs = spark.range(20).select(F.col("id").cast("int").alias("b"))
    m4 = (
        md5_long(
            F.concat(
                F.lit("bs|"),
                F.col("user_id").cast("string"),
                F.lit("|"),
                F.col("b").cast("string"),
            )
        )
        % 4
    )
    w = (
        F.when(m4 == 0, F.lit(0))
        .when(m4 == 3, F.lit(2))
        .otherwise(F.lit(1))
        .cast("long")
    )
    res = (
        per_user.crossJoin(F.broadcast(bs))
        .select("event_type", "b", (w * F.col("s_u")).alias("ws"),
                (w * F.col("n_u")).alias("wn"))
        .groupBy("event_type", "b")
        .agg(F.sum("ws").alias("ws"), F.sum("wn").alias("wn"))
        # degenerate guard: a resample that zero-weights every user has
        # no mean (lazy CaseWhen; mirrored in the oracle)
        .select(
            "event_type",
            F.when(
                F.col("wn") != F.lit(0),
                F.col("ws") / F.col("wn"),
            ).alias("mb"),
        )
        .filter(F.col("mb").isNotNull())
    )
    ci = res.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_resamples"),
        F.array_sort(F.collect_list("mb")).alias("_ms"),
    )
    return (
        tot.join(ci, "event_type", "left")
        .select(
            "event_type",
            "n_events",
            "mean_cents",
            F.coalesce("n_resamples", F.lit(0)).alias("n_resamples"),
            F.when(
                F.size("_ms") >= 2, F.element_at("_ms", 2)
            ).alias("ci_low_cents"),
            F.when(
                F.size("_ms") >= 2,
                F.element_at("_ms", F.size("_ms") - 1),
            ).alias("ci_high_cents"),
        )
        .orderBy("event_type")
    )


_EVENTS_BOOTSTRAP_CI_ORACLE = """
WITH per_user AS (
  SELECT event_type, user_id,
         CAST(count(*) AS BIGINT) AS n_u,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s_u
  FROM events GROUP BY 1, 2
), tot AS (
  SELECT event_type, CAST(sum(n_u) AS BIGINT) AS n_events,
         CAST(sum(s_u) AS DOUBLE) / sum(n_u) AS mean_cents
  FROM per_user GROUP BY 1
), bs AS (
  SELECT CAST(unnest(range(0, 20)) AS INT) AS b
), weighted AS (
  SELECT event_type, b,
         CASE CAST('0x' || substr(md5('bs|' || CAST(user_id AS VARCHAR)
                 || '|' || CAST(b AS VARCHAR)), 1, 15) AS BIGINT) % 4
           WHEN 0 THEN 0 WHEN 3 THEN 2 ELSE 1 END AS w,
         n_u, s_u
  FROM per_user, bs
), res AS (
  SELECT event_type,
         CASE WHEN sum(w * n_u) = 0 THEN NULL
         ELSE CAST(sum(w * s_u) AS BIGINT)
              / CAST(sum(w * n_u) AS BIGINT) END AS mb
  FROM weighted GROUP BY event_type, b
), ci AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_resamples,
         list(mb ORDER BY mb) AS ms
  FROM res WHERE mb IS NOT NULL GROUP BY 1
)
SELECT t.event_type, n_events, mean_cents,
       CAST(coalesce(n_resamples, 0) AS BIGINT) AS n_resamples,
       CASE WHEN len(ms) >= 2 THEN ms[2] END AS ci_low_cents,
       CASE WHEN len(ms) >= 2 THEN ms[len(ms) - 1] END AS ci_high_cents
FROM tot t LEFT JOIN ci USING (event_type) ORDER BY t.event_type
"""


def q_events_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A66 — plug-in entropy rate of the user-behavior Markov chain
    (TS16's transition matrix reduced to ONE bit of information): the
    conditional entropy H(next | prev) = Σᵢⱼ (nᵢⱼ/N)·ln(nᵢ·/nᵢⱼ) in
    nats, plus its ln(k)-normalized form — 0 for deterministic
    behavior, 1 for uniformly random next-actions. The predictability
    summary an activity monitor tracks where TS16's full 25-cell matrix
    is too wide to alert on.

    Parity: every count is an exact BIGINT; ln() outputs quantize to
    1e-6 BIGINT micro-nats BEFORE the cross-cell sum (the L27/TS30
    rule), so the only float ops are two final IEEE divisions.
    Degenerate guards (lazy CaseWhen, mirrored in the oracle): no
    transitions at all → NULL entropy; a single observed state makes
    ln(k) = 0 → NULL normalized form (fires on the constant fixture).

    Scale: one user-partitioned lag window over the fact table, then a
    k²-bounded cell rollup — the TS16 plan with a 1-row reduce on top."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cells = (
        ev.select(
            F.col("event_type").alias("to_type"),
            F.lag("event_type").over(w).alias("from_type"),
        )
        .filter(F.col("from_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    lmicro = lambda c: F.round(  # noqa: E731
        F.log(c.cast("double")) * 1_000_000, 0
    ).cast("long")
    rows_m = cells.groupBy("from_type").agg(F.sum("n").alias("nr"))
    contrib = cells.join(F.broadcast(rows_m), "from_type").select(
        (F.col("n") * (lmicro(F.col("nr")) - lmicro(F.col("n")))).alias(
            "c_micro"
        ),
        F.col("n"),
        F.col("to_type"),
    )
    agg = contrib.agg(
        F.coalesce(F.sum("n"), F.lit(0)).alias("n_transitions"),
        F.countDistinct("to_type").alias("n_states"),
        F.coalesce(F.sum("c_micro"), F.lit(0)).alias("h_micro"),
    )
    lk = lmicro(F.col("n_states"))
    return agg.select(
        "n_transitions",
        "n_states",
        F.when(
            F.col("n_transitions") != F.lit(0),
            F.col("h_micro")
            / (F.col("n_transitions").cast("double") * F.lit(1e6)),
        ).alias("entropy_rate_nats"),
        # sequential branches: ln(n_states) may only be evaluated once
        # n_transitions != 0 guarantees n_states >= 1 (ln(0) errors in
        # DuckDB and under ANSI) — the ANOVA branch-order rule
        F.when(F.col("n_transitions") == F.lit(0), F.lit(None))
        .when(lk == F.lit(0), F.lit(None).cast("double"))
        .otherwise(
            F.col("h_micro")
            / (F.col("n_transitions").cast("double") * lk)
        )
        .alias("normalized_entropy"),
    )


_EVENTS_ENTROPY_RATE_ORACLE = """
WITH steps AS (
  SELECT lag(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS from_type,
         event_type AS to_type
  FROM events
), cells AS (
  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
  FROM steps WHERE from_type IS NOT NULL GROUP BY 1, 2
), rows_m AS (
  SELECT from_type, CAST(sum(n) AS BIGINT) AS nr FROM cells GROUP BY 1
), agg AS (
  SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS n_transitions,
         CAST(count(DISTINCT to_type) AS BIGINT) AS n_states,
         CAST(coalesce(sum(n * (
             CAST(round(ln(CAST(nr AS DOUBLE)) * 1000000) AS BIGINT)
             - CAST(round(ln(CAST(n AS DOUBLE)) * 1000000) AS BIGINT)
           )), 0) AS BIGINT) AS h_micro
  FROM cells JOIN rows_m USING (from_type)
)
SELECT n_transitions, n_states,
       CASE WHEN n_transitions = 0 THEN NULL
       ELSE h_micro / (CAST(n_transitions AS DOUBLE) * 1e6) END
         AS entropy_rate_nats,
       CASE WHEN n_transitions = 0 THEN NULL
       WHEN CAST(round(ln(CAST(n_states AS DOUBLE)) * 1000000) AS BIGINT)
              = 0 THEN NULL
       ELSE h_micro / (CAST(n_transitions AS DOUBLE)
            * CAST(round(ln(CAST(n_states AS DOUBLE)) * 1000000)
                   AS BIGINT)) END AS normalized_entropy
FROM agg
"""


def q_doc_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A67 — Brier score with its Murphy decomposition over the A47
    calibration machinery (same deterministic milli-score and same
    token-count label as doc_calibration_curve, so the two certificates
    audit the SAME classifier): brier = mean (p−y)², and over the ten
    fixed bins reliability = Σn_k(p̄_k−ō_k)²/N (calibration error),
    resolution = Σn_k(ō_k−ō)²/N (discrimination), uncertainty = ō(1−ō).
    A quality filter whose reliability grows is drifting; one whose
    resolution shrinks has stopped separating good from bad documents —
    the two failure modes a single calibration curve conflates.

    Parity: scores are integer millis, so brier_sum and all bin moments
    are exact BIGINTs; each per-bin reliability/resolution term is ONE
    IEEE division of exact integers quantized to an integer grid BEFORE
    the cross-bin sum (the A60 rule), and the final statistics are
    single divisions rounded 1e-9. 2^63 bound: per-bin squares stay
    exact to ~3e6 rows/bin (reliability) and N³ to ~2e6 docs — past
    that, widen to DECIMAL(38,0)/HUGEINT (the A59 escape).

    Scale: ONE map-side scoring pass, one 10-bin partial-agg rollup +
    one 1-row total rollup, a broadcast joinback of the 1-row total —
    no window, no second corpus scan."""
    from floatchat_datapipeline_spark.functions.textstats import md5_long

    docs = load_table(spark, sf_dir, "documents")
    h = md5_long(
        F.concat(F.lit("cal|"), F.col("doc_id").cast("string"))
    ) % 400
    raw = (F.col("n_chars") * 2 + h - 200) * 1000
    toks = (
        F.length("text")
        - F.length(F.regexp_replace("text", " ", ""))
        + 1
    )
    scored = docs.select(
        raw.alias("raw"), (toks >= 55).cast("long").alias("pos")
    ).select(
        F.expr("least(1000L, greatest(0L, raw div 1200))").alias("p"),
        "pos",
    )
    binned = scored.groupBy(
        F.least(F.expr("p div 100"), F.lit(9)).alias("bin")
    ).agg(
        F.count(F.lit(1)).alias("nk"),
        F.sum("pos").alias("ok"),
        F.sum("p").alias("sk"),
    )
    tot = scored.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.coalesce(F.sum("pos"), F.lit(0)).alias("o_tot"),
        F.coalesce(
            F.sum(
                (F.col("p") - 1000 * F.col("pos"))
                * (F.col("p") - 1000 * F.col("pos"))
            ),
            F.lit(0),
        ).alias("brier_sum"),
    )
    d_rel = F.col("sk") - 1000 * F.col("ok")
    d_res = F.col("ok") * F.col("n_docs") - F.col("o_tot") * F.col("nk")
    terms = binned.crossJoin(F.broadcast(tot)).select(
        "n_docs",
        "o_tot",
        "brier_sum",
        # per-bin quantized fractions (one IEEE division each, then an
        # exact integer sum — order-free under any shuffle)
        F.round((d_rel * d_rel).cast("double") * 1000 / F.col("nk"), 0)
        .cast("long")
        .alias("rel_t"),
        F.round((d_res * d_res).cast("double") / F.col("nk"), 0)
        .cast("long")
        .alias("res_t"),
    )
    agg = terms.groupBy("n_docs", "o_tot", "brier_sum").agg(
        F.sum("rel_t").alias("rel_sum"), F.sum("res_t").alias("res_sum")
    )
    n = F.col("n_docs").cast("double")
    return agg.select(
        "n_docs",
        F.col("o_tot").alias("n_pos"),
        F.round(F.col("brier_sum") / (n * F.lit(1e6)), 9).alias("brier"),
        F.round(F.col("rel_sum") / (n * F.lit(1e9)), 9).alias(
            "reliability"
        ),
        F.round(F.col("res_sum") / (n * n * n), 9).alias("resolution"),
        F.round(
            (
                F.col("o_tot") * (F.col("n_docs") - F.col("o_tot"))
            ).cast("double")
            / (n * n),
            9,
        ).alias("uncertainty"),
    )


_DOC_BRIER_DECOMPOSITION_ORACLE = """
WITH scored AS (
  SELECT least(1000, greatest(0,
           ((n_chars * 2
             + CAST('0x' || substr(md5('cal|' || CAST(doc_id AS VARCHAR)),
                                   1, 15) AS BIGINT) % 400
             - 200) * 1000) // 1200)) AS p,
         CASE WHEN length(text) - length(replace(text, ' ', '')) + 1 >= 55
              THEN 1 ELSE 0 END AS pos
  FROM documents
), binned AS (
  SELECT least(p // 100, 9) AS bin,
         CAST(count(*) AS BIGINT) AS nk,
         CAST(sum(pos) AS BIGINT) AS ok,
         CAST(sum(p) AS BIGINT) AS sk
  FROM scored GROUP BY 1
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(coalesce(sum(pos), 0) AS BIGINT) AS o_tot,
         CAST(coalesce(sum((p - 1000 * pos) * (p - 1000 * pos)), 0)
              AS BIGINT) AS brier_sum
  FROM scored
), terms AS (
  SELECT n_docs, o_tot, brier_sum,
         CAST(round(CAST((sk - 1000 * ok) * (sk - 1000 * ok) AS DOUBLE)
                    * 1000 / nk, 0) AS BIGINT) AS rel_t,
         CAST(round(CAST((ok * n_docs - o_tot * nk)
                         * (ok * n_docs - o_tot * nk) AS DOUBLE)
                    / nk, 0) AS BIGINT) AS res_t
  FROM binned CROSS JOIN tot
)
SELECT n_docs, o_tot AS n_pos,
       round(brier_sum / (CAST(n_docs AS DOUBLE) * 1e6), 9) AS brier,
       round(CAST(sum(rel_t) AS BIGINT)
             / (CAST(n_docs AS DOUBLE) * 1e9), 9) AS reliability,
       round(CAST(sum(res_t) AS BIGINT)
             / (CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE)
                * CAST(n_docs AS DOUBLE)), 9) AS resolution,
       round(CAST(o_tot * (n_docs - o_tot) AS DOUBLE)
             / (CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE)), 9)
         AS uncertainty
FROM terms GROUP BY 1, 2, brier_sum
"""


# SPRT constants (Wald, 1945), testing purchase-share p0 = 0.18 vs
# p1 = 0.22 at alpha = beta = 0.05. The log-likelihood-ratio steps and
# the decision boundaries are quantized to 1e-9 BIGINT nanos ONCE
# (canonical home: streaming/windows.py, shared with the S21 streaming
# twin) and inlined into BOTH engines as identical integer literals, so
# the walk is pure integer cumsum arithmetic with zero transcendental
# parity risk: a = ln(p1/p0), b = ln((1-p1)/(1-p0)), A = ln((1-b)/a).
from floatchat_datapipeline_spark.streaming.windows import (  # noqa: E402
    SPRT_BOUND as _SPRT_BOUND,
    SPRT_STEP_NEG as _SPRT_STEP_NEG,
    SPRT_STEP_POS as _SPRT_STEP_POS,
)


def q_events_sprt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS35 — Wald's sequential probability ratio test over each event
    type's event stream: is this type's share of PURCHASE-like activity
    (cents ≥ 6000, the Bernoulli outcome on the exact grid) running at
    p1 = 0.22 rather than p0 = 0.18? The LLR walk adds the quantized
    step for each
    outcome in (ts, event_id) order and stops at the FIRST crossing of
    ±ln(19); the output reports the decision, how many observations it
    took (the whole point of sequential testing — stopping early), and
    the final walk height. The sequential complement of the fixed-N
    A31/A48 readouts; at α = β = 0.05 the boundaries are symmetric.

    Parity: the walk is an exact BIGINT cumsum of two inlined integer
    constants (see _SPRT_STEP_*); crossing steps are integer argmins
    with (ts, event_id) total order. No floats anywhere but the
    reported llr_final (one exact /1e9).

    Scale: ONE type-partitioned ordered window over the fact table
    (the A55 window shape — the partition domain is the bounded type
    set) and a per-type rollup; nothing else touches the log."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    # outcome on the exact cents grid (round-then-cast, the repo rule),
    # the SAME predicate the S21 streaming twin walks
    x = (F.round(F.col("value") * 100).cast("long") >= 6000).cast("long")
    step = F.when(x == 1, F.lit(_SPRT_STEP_POS)).otherwise(
        F.lit(_SPRT_STEP_NEG)
    )
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    walked = ev.select(
        "event_type", "ts", "event_id", step.alias("step")
    ).select(
        "event_type",
        "step",
        F.row_number().over(w).alias("rn"),
        F.sum("step")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("llr"),
    )
    big = F.lit(2**62)
    agg = walked.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.coalesce(
            F.min(F.when(F.col("llr") >= _SPRT_BOUND, F.col("rn"))), big
        ).alias("up_step"),
        F.coalesce(
            F.min(F.when(F.col("llr") <= -_SPRT_BOUND, F.col("rn"))), big
        ).alias("down_step"),
        F.sum("step").alias("llr_final_nanos"),
    )
    first_cross = F.least(F.col("up_step"), F.col("down_step"))
    return agg.select(
        "event_type",
        "n_obs",
        F.when(first_cross < big, first_cross).alias("decision_step"),
        F.when(first_cross == big, F.lit("continue"))
        .when(F.col("up_step") < F.col("down_step"), F.lit("accept_h1"))
        .otherwise(F.lit("accept_h0"))
        .alias("decision"),
        "llr_final_nanos",
        (F.col("llr_final_nanos") / F.lit(1e9)).alias("llr_final"),
    ).orderBy("event_type")


_EVENTS_SPRT_ORACLE = f"""
WITH walked AS (
  SELECT event_type,
         row_number() OVER (
           PARTITION BY event_type ORDER BY ts, event_id) AS rn,
         CAST(sum(CASE WHEN CAST(round(value * 100) AS BIGINT) >= 6000
                       THEN {_SPRT_STEP_POS}
                       ELSE {_SPRT_STEP_NEG} END) OVER (
           PARTITION BY event_type ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS llr,
         CASE WHEN CAST(round(value * 100) AS BIGINT) >= 6000
              THEN {_SPRT_STEP_POS}
              ELSE {_SPRT_STEP_NEG} END AS step
  FROM events
), agg AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_obs,
         CAST(coalesce(min(rn) FILTER (llr >= {_SPRT_BOUND}),
                       4611686018427387904) AS BIGINT) AS up_step,
         CAST(coalesce(min(rn) FILTER (llr <= -{_SPRT_BOUND}),
                       4611686018427387904) AS BIGINT) AS down_step,
         CAST(sum(step) AS BIGINT) AS llr_final_nanos
  FROM walked GROUP BY 1
)
SELECT event_type, n_obs,
       CASE WHEN least(up_step, down_step) < 4611686018427387904
            THEN least(up_step, down_step) END AS decision_step,
       CASE WHEN least(up_step, down_step) = 4611686018427387904
              THEN 'continue'
            WHEN up_step < down_step THEN 'accept_h1'
            ELSE 'accept_h0' END AS decision,
       llr_final_nanos,
       llr_final_nanos / 1e9 AS llr_final
FROM agg ORDER BY event_type
"""


def q_stream_sprt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S21 — the TS35 Wald SPRT as a STREAMING stateful operator: four
    BIGINTs of GroupState per event type (count, LLR height, first
    up/down crossing) walk the identical integer recurrence as events
    arrive (streaming/windows.sprt_stream) — the decision fires the
    moment a boundary is crossed, the live-monitoring property a
    fixed-N test cannot have. Under the harness's AvailableNow replay
    the emitted state equals the batch walk, so the SAME oracle
    value-checks the stream (the S10/S14 stream-twin contract); the
    decision columns are derived from the materialized state with the
    exact expressions of the batch query."""
    from floatchat_datapipeline_spark.streaming.run import materialize
    from floatchat_datapipeline_spark.streaming.sources import stream_table
    from floatchat_datapipeline_spark.streaming.windows import sprt_stream

    out = materialize(
        sprt_stream(stream_table(spark, sf_dir, "events")),
        "q_stream_sprt",
        output_mode="update",
    )
    up = F.when(F.col("up_step") == 0, F.lit(2**62)).otherwise(
        F.col("up_step")
    )
    down = F.when(F.col("down_step") == 0, F.lit(2**62)).otherwise(
        F.col("down_step")
    )
    first_cross = F.least(up, down)
    return out.select(
        "event_type",
        "n_obs",
        F.when(first_cross < F.lit(2**62), first_cross).alias(
            "decision_step"
        ),
        F.when(first_cross == F.lit(2**62), F.lit("continue"))
        .when(up < down, F.lit("accept_h1"))
        .otherwise(F.lit("accept_h0"))
        .alias("decision"),
        "llr_final_nanos",
        (F.col("llr_final_nanos") / F.lit(1e9)).alias("llr_final"),
    ).orderBy("event_type")


_STREAM_SPRT_ORACLE = _EVENTS_SPRT_ORACLE


# RAKE stopword set — the split boundary for candidate phrases. Small
# and fixed; shared verbatim by the Spark side and the oracle.
_RAKE_STOPWORDS = ("the", "a", "of", "and", "is")
_RAKE_CHUNK = 3
_RAKE_TOPK = 15


def q_doc_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L35 — RAKE keyword extraction (Rose et al. 2010) over the corpus:
    candidate phrases are maximal stopword-free token runs, CHUNKED to
    3 tokens (the standard phrase-length cap — without it a nearly
    stopword-free document degenerates into one giant phrase); each
    word scores degree/frequency over the phrase graph and a phrase
    scores the sum of its words. Top-15 phrases by (score, phrase) with
    corpus occurrence counts — the cheap, deterministic keyphrase
    extractor an LLM-corpus datasheet uses where a model-based tagger
    is unaffordable at 100 TB.

    Parity: phrase membership is pure integer gaps-and-islands (island
    id = pos − rank among non-stop tokens, sub-chunked by rank div 3);
    each word's degree/freq ratio is ONE IEEE division quantized to
    1e-9 BIGINT nanos, so phrase scores are exact integer sums (the
    A60 rule — no cross-row float accumulation anywhere).

    Scale: tokens explode WITHOUT carrying the document text (the
    per-frame-substring rule); the two windows partition by doc_id
    (never global); word stats are vocabulary-bounded; the phrase
    rollup is output-bounded with a TakeOrdered top-k."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    ).filter(
        (F.col("tok") != "") & ~F.col("tok").isin(*_RAKE_STOPWORDS)
    )
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    islanded = toks.withColumn(
        "island", F.col("pos") - F.row_number().over(w_doc)
    )
    w_isl = Window.partitionBy("doc_id", "island").orderBy("pos")
    chunked = islanded.withColumn(
        "chunk",
        F.expr(f"(row_number() OVER (PARTITION BY doc_id, island"
               f" ORDER BY pos) - 1) div {_RAKE_CHUNK}"),
    )
    phrases = chunked.groupBy("doc_id", "island", "chunk").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("pos", "tok"))
                ),
                lambda s: s.getField("tok"),
            ),
            " ",
        ).alias("phrase"),
        F.count(F.lit(1)).alias("plen"),
    )
    # A phrase's token multiset IS split(phrase, ' ') (phrases are the
    # space-join of their collected tokens, tokens contain no spaces),
    # so BOTH the word-stats rollup and the per-phrase score derive
    # from `phrases` alone — the r12 form re-joined `chunked` back to
    # `phrases` on the chunk key in each branch, re-executing the two
    # windows + rollup + join twice (r13: join eliminated from both
    # branches; plen = size of the split).
    pw = phrases.select(
        "doc_id",
        "island",
        "chunk",
        "phrase",
        "plen",
        F.explode(F.split("phrase", " ")).alias("tok"),
    )
    wstats = (
        pw.groupBy("tok")
        .agg(
            F.count(F.lit(1)).alias("freq"),
            F.sum("plen").alias("deg"),
        )
        .select(
            "tok",
            F.round(
                F.col("deg").cast("double") * 1e9 / F.col("freq"), 0
            )
            .cast("long")
            .alias("nanos"),
        )
    )
    pscore = (
        pw.join(F.broadcast(wstats), "tok")
        .groupBy("doc_id", "island", "chunk", "phrase")
        .agg(F.sum("nanos").alias("score_nanos"))
    )
    return (
        pscore.groupBy("phrase")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.max("score_nanos").alias("_sn"),
        )
        .select(
            "phrase",
            "n_occurrences",
            (F.col("_sn") / F.lit(1e9)).alias("rake_score"),
        )
        .orderBy(F.desc("rake_score"), "phrase")
        .limit(_RAKE_TOPK)
    )


_DOC_RAKE_KEYWORDS_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS tok,
         unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos
  FROM documents
), nonstop AS (
  SELECT doc_id, tok, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
           AS island
  FROM toks
  WHERE tok NOT IN {repr(_RAKE_STOPWORDS)} AND tok != ''
), chunked AS (
  SELECT doc_id, tok, pos, island,
         (row_number() OVER (
            PARTITION BY doc_id, island ORDER BY pos) - 1)
           // {_RAKE_CHUNK} AS chunk
  FROM nonstop
), phrases AS (
  SELECT doc_id, island, chunk,
         string_agg(tok, ' ' ORDER BY pos) AS phrase,
         CAST(count(*) AS BIGINT) AS plen
  FROM chunked GROUP BY 1, 2, 3
), wscore AS (
  SELECT tok,
         CAST(round(CAST(sum(plen) AS DOUBLE) * 1e9 / count(*), 0)
              AS BIGINT) AS nanos
  FROM chunked c JOIN phrases p USING (doc_id, island, chunk)
  GROUP BY tok
), pscore AS (
  SELECT c.doc_id, c.island, c.chunk, p.phrase,
         CAST(sum(nanos) AS BIGINT) AS score_nanos
  FROM chunked c
  JOIN phrases p USING (doc_id, island, chunk)
  JOIN wscore w ON c.tok = w.tok
  GROUP BY 1, 2, 3, 4
)
SELECT phrase, CAST(count(*) AS BIGINT) AS n_occurrences,
       max(score_nanos) / 1e9 AS rake_score
FROM pscore GROUP BY phrase
ORDER BY rake_score DESC, phrase LIMIT {_RAKE_TOPK}
"""


_HILL_K = 100


def q_orders_hill_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A68 — Hill tail-index estimator over order values (Hill 1975),
    the heavy-tail diagnostic behind the A52 whale analysis: over the
    top k+1 = 101 order totals, hill = (1/k)·Σ ln(x₍ᵢ₎/x₍ₖ₊₁₎) and the
    Pareto tail exponent α = 1/hill. A small α (≲ 2) means revenue
    concentration has infinite-variance behavior — top-heavy enough
    that mean-based forecasts are unstable; TPC-H's bounded uniform
    prices honestly report a huge α (no tail), and the property test
    plants a true Pareto sample to prove the estimator recovers its
    exponent.

    Parity: the top-(k+1) set is a TakeOrdered with total (cents desc,
    orderkey) order; the threshold row is the set's MINIMUM by (cents
    asc, orderkey desc) — selected by a second TakeOrdered, never a
    global window; ln() outputs quantize to 1e-9 BIGINT nanos (the L27
    rule) so the sum is exact and α is one integer-over-integer IEEE
    division. All-equal values (zero log-spread) NULL the estimate via
    the round-12 guard discipline.

    Scale: ONE TakeOrderedAndProject over the fact table (per-partition
    heaps, k+1-row driver merge) — the probe never sorts or shuffles
    the full table."""
    orders = load_table(spark, sf_dir, "orders")
    cents = orders.select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("c"),
    )
    top = cents.orderBy(F.desc("c"), F.col("o_orderkey")).limit(
        _HILL_K + 1
    )
    lnano = F.round(
        F.log(F.col("c").cast("double")) * 1e9, 0
    ).cast("long")
    thr = (
        top.orderBy(F.col("c").asc(), F.col("o_orderkey").desc())
        .limit(1)
        .select(
            F.col("o_orderkey").alias("tkey"),
            F.col("c").alias("tc"),
            lnano.alias("lt"),
        )
    )
    topk = top.crossJoin(F.broadcast(thr)).filter(
        F.col("o_orderkey") != F.col("tkey")
    )
    agg = topk.groupBy("tc", "lt").agg(
        F.count(F.lit(1)).alias("k"),
        F.sum(lnano - F.col("lt")).alias("lsum"),
    )
    return agg.select(
        F.col("k"),
        F.col("tc").alias("threshold_cents"),
        (F.col("lsum") / (F.col("k").cast("double") * F.lit(1e9))).alias(
            "hill"
        ),
        F.when(
            F.col("lsum") != F.lit(0),
            (F.col("k").cast("double") * F.lit(1e9)) / F.col("lsum"),
        ).alias("tail_alpha"),
    )


_ORDERS_HILL_TAIL_ORACLE = f"""
WITH cents AS (
  SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS c
  FROM orders
), top101 AS (
  SELECT o_orderkey, c FROM cents
  ORDER BY c DESC, o_orderkey LIMIT {_HILL_K + 1}
), thr AS (
  SELECT o_orderkey AS tkey, c AS tc,
         CAST(round(ln(CAST(c AS DOUBLE)) * 1e9, 0) AS BIGINT) AS lt
  FROM top101 ORDER BY c ASC, o_orderkey DESC LIMIT 1
), agg AS (
  SELECT CAST(count(*) AS BIGINT) AS k, max(tc) AS tc,
         CAST(sum(CAST(round(ln(CAST(t.c AS DOUBLE)) * 1e9, 0)
                       AS BIGINT) - lt) AS BIGINT) AS lsum
  FROM top101 t, thr WHERE t.o_orderkey != thr.tkey
  GROUP BY lt
)
SELECT k, tc AS threshold_cents,
       lsum / (CAST(k AS DOUBLE) * 1e9) AS hill,
       CASE WHEN lsum = 0 THEN NULL
       ELSE (CAST(k AS DOUBLE) * 1e9) / lsum END AS tail_alpha
FROM agg
"""


# ---------------------------------------------------------------------------
# Streaming-design / release-engineering audits (round 13: S22, L36, Z6)
# ---------------------------------------------------------------------------

# Watermark policies under audit, in seconds.
_WATERMARK_POLICIES = (60, 600, 3600)

# Deterministic ingest-jitter model for the watermark audit: each event
# arrives `(event_id % 7200) * 4561 % 7200` seconds after its event
# time (4561 = 2654435761 mod 7200 — Knuth's multiplicative constant
# reduced first so the product NEVER exceeds 7200², overflow-safe for
# any event_id under ANSI mode; gcd(4561, 7200) = 1 keeps the delay
# uniform over 0..7199). The generator emits events already sorted by
# time, so with arrival == event time the audit would report zero
# lateness at every policy — the jitter makes the census a real
# discriminator while staying bit-identical across engines.
_WM_JITTER_MOD = 7200
_WM_JITTER_MUL = 4561


def q_events_watermark_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S22 — watermark policy census (the design input for every
    streaming query's `withWatermark`): replay the events stream in
    arrival order and, for each candidate watermark W ∈ {1 min, 10 min,
    1 h}, count the events that would be DROPPED as too late — an
    event is late by `(max event time already arrived) − (its own
    event time)`, the exact recurrence Spark's watermark tracks.
    Arrival order = event time + the deterministic bounded jitter
    above (see _WM_JITTER_MOD). TS18's per-user disorder audit sizes
    per-key buffers; this one prices the GLOBAL policy: pick W where
    pct_dropped crosses the SLO.

    Plan: the global exclusive running max is
    plans/scale.ranged_cummax_exclusive — range-partition on arrival
    order, partition-local window, 32-row carry window — never a
    single-task global sort; then ONE partial-aggregable rollup and a
    3-literal explode. Scale-safe at any fact size."""
    from floatchat_datapipeline_spark.functions.eventtime import (
        epoch_seconds,
    )
    from floatchat_datapipeline_spark.plans.scale import (
        ranged_cummax_exclusive,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", epoch_seconds(F.col("ts")).alias("ts_s")
    )
    ev = ev.withColumn(
        "akey",
        F.col("ts_s")
        + (F.col("event_id") % _WM_JITTER_MOD)
        * _WM_JITTER_MUL
        % _WM_JITTER_MOD,
    )
    g = ranged_cummax_exclusive(ev, ["akey", "event_id"], "ts_s", "wm")
    late = g.select(
        F.greatest(
            F.coalesce(F.col("wm") - F.col("ts_s"), F.lit(0)), F.lit(0)
        ).alias("late_s")
    )
    agg = late.agg(
        F.count(F.lit(1)).alias("n"),
        F.max("late_s").alias("max_late_s"),
        *[
            F.sum((F.col("late_s") > F.lit(w)).cast("long")).alias(f"d{w}")
            for w in _WATERMARK_POLICIES
        ],
    )
    pol = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(w).cast("long").alias("watermark_s"),
                    F.col(f"d{w}").alias("n_dropped"),
                )
                for w in _WATERMARK_POLICIES
            ]
        )
    ).alias("p")
    return (
        agg.select("n", "max_late_s", pol)
        .select(
            F.col("p.watermark_s").alias("watermark_s"),
            F.col("p.n_dropped").alias("n_dropped"),
            # exact-integer quotient — identical IEEE ops both engines
            F.round(
                F.lit(100.0) * F.col("p.n_dropped") / F.col("n"), 6
            ).alias("pct_dropped"),
            F.col("max_late_s").cast("long").alias("max_late_s"),
        )
        .orderBy("watermark_s")
    )


_EVENTS_WATERMARK_POLICY_ORACLE = f"""
WITH ev AS (
  SELECT event_id, epoch_us(ts) // 1000000 AS ts_s,
         epoch_us(ts) // 1000000
           + (event_id % {_WM_JITTER_MOD}) * {_WM_JITTER_MUL}
             % {_WM_JITTER_MOD} AS akey
  FROM events
), l AS (
  SELECT greatest(coalesce(max(ts_s) OVER (
      ORDER BY akey, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) - ts_s, 0), 0)
    AS late_s
  FROM ev
), agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(max(late_s) AS BIGINT) AS max_late_s,
         CAST(sum(CASE WHEN late_s > 60 THEN 1 ELSE 0 END) AS BIGINT)
           AS d60,
         CAST(sum(CASE WHEN late_s > 600 THEN 1 ELSE 0 END) AS BIGINT)
           AS d600,
         CAST(sum(CASE WHEN late_s > 3600 THEN 1 ELSE 0 END) AS BIGINT)
           AS d3600
  FROM l
)
SELECT * FROM (
  SELECT CAST(60 AS BIGINT) AS watermark_s, d60 AS n_dropped,
         round(100e0 * d60 / n, 6) AS pct_dropped, max_late_s FROM agg
  UNION ALL
  SELECT 600, d600, round(100e0 * d600 / n, 6), max_late_s FROM agg
  UNION ALL
  SELECT 3600, d3600, round(100e0 * d3600 / n, 6), max_late_s FROM agg
) ORDER BY watermark_s
"""


def q_events_temporal_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L36 — temporal train/test split with an embargo gap (the
    time-series twin of L1/L12's hash splits): train = days before the
    70% cut of the observed day span, a 1-day embargo after the cut is
    DROPPED (events whose influence straddles the boundary — the
    finance-backtest rule, de Prado's purged split), test = the rest.
    The report prices the split: per-segment event counts plus the
    LEAKAGE readout — users_both counts users appearing on both sides,
    exactly what a per-user-state model would leak through (uniform
    synthetic traffic honestly reports every user on both sides; real
    churn makes this the number you negotiate embargo length with).

    Plan: one 1-row min/max broadcast, one user-grain partial agg, one
    global rollup — no windows, no second fact scan."""
    from floatchat_datapipeline_spark.functions.eventtime import (
        epoch_micros,
        long_div,
    )

    us_day = 86_400_000_000
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", long_div(epoch_micros(F.col("ts")), us_day).alias("day")
    )
    bounds = ev.agg(
        (
            F.min("day")
            + long_div(
                (F.max("day") - F.min("day") + F.lit(1)) * F.lit(7), 10
            )
        ).alias("cut")
    )
    seg = (
        ev.crossJoin(F.broadcast(bounds))
        .select(
            "user_id",
            F.when(F.col("day") < F.col("cut"), F.lit(0))
            .when(F.col("day") < F.col("cut") + 1, F.lit(1))
            .otherwise(F.lit(2))
            .alias("seg"),
            "cut",
        )
    )
    u = seg.groupBy("user_id", "cut").agg(
        *[
            F.sum((F.col("seg") == s).cast("long")).alias(c)
            for s, c in ((0, "tr"), (1, "em"), (2, "te"))
        ]
    )
    return u.groupBy(F.col("cut").alias("cut_day")).agg(
        F.lit(1).cast("long").alias("embargo_days"),
        F.sum("tr").alias("n_train"),
        F.sum("em").alias("n_embargo"),
        F.sum("te").alias("n_test"),
        F.sum((F.col("tr") > 0).cast("long")).alias("users_train"),
        F.sum((F.col("te") > 0).cast("long")).alias("users_test"),
        F.sum(((F.col("tr") > 0) & (F.col("te") > 0)).cast("long")).alias(
            "users_both"
        ),
    )


_EVENTS_TEMPORAL_SPLIT_ORACLE = """
WITH ev AS (
  SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events
), b AS (
  SELECT min(day) + ((max(day) - min(day) + 1) * 7) // 10 AS cut
  FROM ev
), u AS (
  SELECT user_id, cut,
         CAST(sum(CASE WHEN day < cut THEN 1 ELSE 0 END) AS BIGINT)
           AS tr,
         CAST(sum(CASE WHEN day >= cut AND day < cut + 1 THEN 1 ELSE 0
                  END) AS BIGINT) AS em,
         CAST(sum(CASE WHEN day >= cut + 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS te
  FROM ev, b GROUP BY 1, 2
)
SELECT cut AS cut_day,
       CAST(1 AS BIGINT) AS embargo_days,
       CAST(sum(tr) AS BIGINT) AS n_train,
       CAST(sum(em) AS BIGINT) AS n_embargo,
       CAST(sum(te) AS BIGINT) AS n_test,
       CAST(sum(CASE WHEN tr > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS users_train,
       CAST(sum(CASE WHEN te > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS users_test,
       CAST(sum(CASE WHEN tr > 0 AND te > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS users_both
FROM u GROUP BY 1
"""


# Compaction bin target in characters (the n_bytes proxy this corpus
# carries). Small enough to produce multi-bin plans from sf0.001 up.
_COMPACTION_TARGET_CHARS = 4096


def q_corpus_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z6 — small-file compaction plan (the lakehouse OPTIMIZE /
    bin-packing step, Z4's shard planner pointed at the small-files
    problem): within each source, documents are packed
    largest-first into target-size bins by the sequential-fill rule —
    a doc starts in bin ⌊(running total before it) / target⌋ — and the
    report prices the layout: docs and bytes per bin, fill percentage.
    Sequential fill is what table formats actually do for OPTIMIZE
    (sort, then cut at the size boundary); first-fit-decreasing's
    marginal packing win isn't worth losing the sort order.

    Plan: ONE source-partitioned cumsum window over the doc listing
    (file metadata scale, not content scale — at 100 TB this input is
    the manifest, ~10⁶ rows/source) and one partial-aggregable rollup.
    No global window, no joins."""
    from pyspark.sql import Window

    from floatchat_datapipeline_spark.functions.eventtime import long_div

    docs = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", "n_chars"
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.desc("n_chars"), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    binned = docs.withColumn("cum", F.sum("n_chars").over(w)).select(
        "source",
        "n_chars",
        long_div(
            F.col("cum") - F.col("n_chars"), _COMPACTION_TARGET_CHARS
        ).alias("bin_id"),
    )
    return (
        binned.groupBy("source", "bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("bin_chars"),
        )
        .select(
            "source",
            "bin_id",
            "n_docs",
            "bin_chars",
            # exact-integer quotient — identical IEEE ops both engines
            F.round(
                F.lit(100.0)
                * F.col("bin_chars")
                / F.lit(_COMPACTION_TARGET_CHARS),
                6,
            ).alias("fill_pct"),
        )
        .orderBy("source", "bin_id")
    )


_CORPUS_COMPACTION_PLAN_ORACLE = f"""
WITH c AS (
  SELECT source, doc_id, n_chars,
         sum(n_chars) OVER (PARTITION BY source
           ORDER BY n_chars DESC, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM documents
)
SELECT source,
       CAST((cum - n_chars) // {_COMPACTION_TARGET_CHARS} AS BIGINT)
         AS bin_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS bin_chars,
       round(100e0 * sum(n_chars) / {_COMPACTION_TARGET_CHARS}, 6)
         AS fill_pct
FROM c GROUP BY 1, 2 ORDER BY 1, 2
"""


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------


# Manual evidence invalidations for rounds that predate FINGERPRINTS.json
# snapshots: query name -> first round whose driver check reflects the
# CURRENT semantics. Checks from earlier rounds hashed an older form of
# the query and are discarded from the rotation history (the query
# re-enters the driver window as never-checked). Rounds with a committed
# fingerprint snapshot don't need entries here — the snapshot diff
# invalidates automatically.
_EDIT_INVALIDATIONS: dict[str, int] = {
    # De-vacuated in round 6 (commit 76fe5a3): the r5 green certified the
    # old always-0-rows form.
    "supplier_part_diversity": 6,
    # Antimeridian wrap added in round 8: the r7 greens certified the
    # seam-blind grid (pairs straddling lon ±180 were missed).
    "geo_close_pairs": 8,
    "geo_hotspots": 8,
    # hits_fixed_point (operators/graph.py) rewritten in round 11 to
    # checkpoint the final union (constant-size returned plan) and
    # release persisted frames at each checkpoint barrier — values
    # verified identical vs the oracle at sf0.001/sf0.01, but the r10
    # green hashed the old code path; re-enter the window.
    "purchase_hits": 11,
    # first_token switched to try_element_at in round 11 (empty-doc
    # abort, ROBUSTNESS.md). The fingerprint edit filter cannot see the
    # r5 green (rounds <= 7 predate FINGERPRINTS snapshots), so
    # invalidate manually — same convention as every other edit.
    "doc_bpe_tokens": 11,
    # Round-12 zero-norm guard at the shared vector seams
    # (functions/vector.cosine, embeddings/search.nearest_centroid,
    # operators/similarity, operators/clusters.semdedup — ROBUSTNESS.md
    # queue): values identical on non-degenerate data (verified vs the
    # oracles at sf0.001/sf0.01), but earlier greens hashed the
    # unguarded code path. Consumers whose own fingerprint did NOT move
    # (seam-only change) or whose green predates FINGERPRINTS snapshots
    # re-enter manually; the rest auto-invalidate via the snapshot diff.
    "cosine_topk": 12,
    "emb_filtered_topk": 12,
    "semantic_search": 12,
    "semantic_search_batch": 12,
    "ann_lsh_topk": 12,
    "doc_hybrid_rrf": 12,
    "emb_mmr_rerank": 12,
    "ann_pq_topk": 12,
    # Round-13 defensive id-dedup at the operators/clusters.semdedup
    # seam (ROBUSTNESS.md duplicate-id contract): gated output is
    # identical (driver ids are unique), but the r12 green hashed the
    # pre-dedup plan, so re-enter the one consumer.
    "emb_semdedup": 13,
    # Round-13 unroll of the per-pair HOF distance fold inside the
    # shared helper _discord_report: value-equivalent (the
    # size(v)==window filter pins the array length, making the 24-term
    # unroll bit-identical to the fold; oracle-verified at
    # sf0.001/sf0.01), but the consumer's own fingerprint did not move
    # (seam-only change), so its r10 green hashed the old fold —
    # re-enter per the documented convention.
    "events_discord": 13,
    # Round-12 degenerate-divisor CASE guards; these queries ALSO carry
    # r7-era greens that predate FINGERPRINTS snapshots (the snapshot
    # diff already invalidates their r8+ checks, but the legacy rounds
    # are exempt from the edit filter and would keep them out of the
    # never-checked tier).
    "events_value_trend": 12,
    "events_twap": 12,
    "events_ks_test": 12,
    "spend_rank_correlation": 12,
    # Same: seam-guarded cosine consumers whose r4-era legacy greens
    # survive the snapshot filter.
    "emb_knn_label": 12,
    "emb_near_dup": 12,
    "ann_ivf_topk": 12,
    # sources/pyds.py stream-reader fix (round 11, commit 9edd151)
    # changed code the r10 green executed — shared-module edit, so the
    # fingerprint didn't move; re-enter per the documented convention.
    "erddap_stream_scan": 12,
}


def query_fingerprint(spec: "QuerySpec") -> str:
    """Stable fingerprint of a query's SOURCE: md5 of the query
    function's text plus its oracle SQL. Edits to either change the
    fingerprint, which is how the rotation detects that a committed
    driver check certified an older form. (Edits confined to a shared
    operator module are not captured — use _EDIT_INVALIDATIONS for
    those; in practice semantic changes touch the oracle SQL too, since
    parity requires mirroring them.)"""
    import hashlib
    import inspect

    try:
        src = inspect.getsource(spec.spark)
    except (OSError, TypeError):
        src = getattr(spec.spark, "__qualname__", repr(spec.spark))
    return hashlib.md5(
        (src + "\x00" + (spec.oracle or "")).encode()
    ).hexdigest()


def _load_fingerprint_rounds(root: str) -> dict[int, dict[str, str]]:
    """Committed per-round fingerprint snapshots
    (tools/gen_fingerprints.py): {"rounds": {"8": {query: md5}}}. A
    snapshot for round N records the source the driver hashed when it
    wrote CORRECTNESS_r0N.json. Missing file / missing round → no
    filtering for that round (legacy rounds 1-7 predate the scheme)."""
    import json

    path = os.path.join(root, "FINGERPRINTS.json")
    try:
        with open(path) as f:
            data = json.load(f)
    except (OSError, ValueError):
        return {}
    out: dict[int, dict[str, str]] = {}
    for k, v in (data.get("rounds") or {}).items():
        try:
            out[int(k)] = dict(v)
        except (TypeError, ValueError):
            continue
    return out


def _driver_check_history(
    current_fps: dict[str, str] | None = None,
    root: str | None = None,
) -> tuple[
    dict[str, int], dict[str, bool], dict[str, bool], dict[str, int]
]:
    """Per query, from the committed ``CORRECTNESS_r*.json`` rounds:
    (times checked, was-red-at-latest-check, latest-was-rows-only,
    round-of-latest-valid-check). The
    driver hash-checks only the FIRST 50 entries of ``queries()``, so
    these files double as a shared, monotonic record of which queries
    the hard gate has actually visited — and of which ones it last saw
    failing. "Red" = any of rows/schema/hash false, or a recorded error
    other than a passing rows-only row (``err == 'no_oracle'`` with a
    Spark row count): that is the driver's weaker check SUCCEEDING for
    a query that had no oracle at the time. Whether a rows-only pass
    still counts as verified depends on whether the query HAS an oracle
    now — the registry decides that (a permanently oracle-less query
    must cycle like a green, or it would park at the head of the window
    forever; one that has since grown an oracle has never had its hash
    checked and must re-enter).

    Edit-awareness: a round's check for a query is DISCARDED when (a)
    the round predates the query's _EDIT_INVALIDATIONS entry, or (b)
    the committed FINGERPRINTS.json snapshot for that round records a
    different source fingerprint than `current_fps` — either way the
    driver never hashed the query as it exists now, so it must re-enter
    the window as never-checked rather than cycle as a stale green."""
    import glob
    import json
    import re

    if root is None:
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    fp_rounds = _load_fingerprint_rounds(root) if current_fps else {}
    counts: dict[str, int] = {}
    latest_red: dict[str, bool] = {}
    latest_rows_only: dict[str, bool] = {}
    latest_round: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        rnd = int(m.group(1)) if m else 0
        try:
            with open(path) as f:
                results = json.load(f)
        except (OSError, ValueError):
            continue
        snapshot = fp_rounds.get(rnd, {})
        for k, v in results.items():
            if rnd < _EDIT_INVALIDATIONS.get(k, 0):
                continue
            if (
                current_fps is not None
                and k in snapshot
                and k in current_fps
                and snapshot[k] != current_fps[k]
            ):
                continue
            counts[k] = counts.get(k, 0) + 1
            if isinstance(v, dict):
                rows_only_pass = (
                    v.get("err") == "no_oracle"
                    and v.get("spark_rows") is not None
                )
                green = rows_only_pass or (
                    v.get("rows_match") is True
                    and v.get("schema_match") is True
                    and v.get("hash_match") is True
                    and not v.get("err")
                )
            else:
                rows_only_pass = False
                green = False
            latest_red[k] = not green
            latest_rows_only[k] = rows_only_pass
            latest_round[k] = rnd
    return counts, latest_red, latest_rows_only, latest_round


def registry() -> dict[str, QuerySpec]:
    """Self-ordering: (last-check-was-red DESC, latest-check-round ASC,
    times-checked ASC, base order). A fixed ordering leaves the tail
    past the driver's 50-wide window permanently unchecked (rounds 1-4
    hash-checked the identical 50). So: queries whose LATEST driver
    check failed come first (their fixes need the hard gate now), then
    never-checked queries (latest round 0), then greens cycling by
    OLDEST EVIDENCE first — no green's driver hash ever goes
    unboundedly stale. Recency, not check count, is the cycle key
    (VERDICT r8 item 2: the r1-r4 rounds re-checked the same 50, so
    those queries carry counts up to 4 and ascending-COUNT ordering
    stranded exactly the tier with the OLDEST evidence behind the
    once-checked r7/r8 tier). A query whose latest check was a
    rows-only pass counts as needing the gate iff it HAS an oracle now
    (the hash has never seen it); a permanently oracle-less query
    cycles like a green. Local tests (tests/test_driver_parity.py)
    always gate the full set regardless of order.

    Edit-aware (round 8): checks whose committed fingerprint snapshot
    differs from the query's current source are discarded by
    _driver_check_history, so an EDITED query re-enters the window as
    never-checked instead of cycling as a stale green."""
    base = _base_registry()
    current_fps = {n: query_fingerprint(s) for n, s in base.items()}
    counts, latest_red, latest_rows_only, latest_round = (
        _driver_check_history(current_fps)
    )

    def needs_gate(n: str) -> bool:
        if latest_red.get(n, False):
            return True
        return latest_rows_only.get(n, False) and base[n].oracle is not None

    names = sorted(
        base,
        key=lambda n: (
            0 if needs_gate(n) else 1,
            latest_round.get(n, 0),
            counts.get(n, 0),
        ),
    )
    return {name: base[name] for name in names}


def _base_registry() -> dict[str, QuerySpec]:
    return {
        "table_key_audit": QuerySpec(
            q_table_key_audit,
            _TABLE_KEY_AUDIT_ORACLE,
            ("K16", "data-contract"),
        ),
        "fk_orphan_audit": QuerySpec(
            q_fk_orphan_audit,
            _FK_ORPHAN_AUDIT_ORACLE,
            ("K17", "data-contract"),
        ),
        "emb_dead_rows": QuerySpec(
            q_emb_dead_rows,
            _EMB_DEAD_ROWS_ORACLE,
            ("V21", "data-contract"),
        ),
        "events_bootstrap_ci": QuerySpec(
            q_events_bootstrap_ci,
            _EVENTS_BOOTSTRAP_CI_ORACLE,
            ("A65", "A61"),
        ),
        "events_entropy_rate": QuerySpec(
            q_events_entropy_rate,
            _EVENTS_ENTROPY_RATE_ORACLE,
            ("A66", "TS16"),
        ),
        "doc_brier_decomposition": QuerySpec(
            q_doc_brier_decomposition,
            _DOC_BRIER_DECOMPOSITION_ORACLE,
            ("A67", "A47"),
        ),
        "events_sprt": QuerySpec(
            q_events_sprt,
            _EVENTS_SPRT_ORACLE,
            ("TS35", "A48"),
        ),
        "stream_sprt": QuerySpec(
            q_stream_sprt,
            _STREAM_SPRT_ORACLE,
            ("S21", "streaming-stateful"),
        ),
        "doc_rake_keywords": QuerySpec(
            q_doc_rake_keywords,
            _DOC_RAKE_KEYWORDS_ORACLE,
            ("L35", "text-analysis"),
        ),
        "orders_hill_tail": QuerySpec(
            q_orders_hill_tail,
            _ORDERS_HILL_TAIL_ORACLE,
            ("A68", "A52"),
        ),
        "events_watermark_policy": QuerySpec(
            q_events_watermark_policy,
            _EVENTS_WATERMARK_POLICY_ORACLE,
            ("S22", "TS18"),
        ),
        "events_temporal_split": QuerySpec(
            q_events_temporal_split,
            _EVENTS_TEMPORAL_SPLIT_ORACLE,
            ("L36", "L12"),
        ),
        "corpus_compaction_plan": QuerySpec(
            q_corpus_compaction_plan,
            _CORPUS_COMPACTION_PLAN_ORACLE,
            ("Z6", "Z4"),
        ),
        "purchase_hits": QuerySpec(
            q_purchase_hits, _PURCHASE_HITS_ORACLE, ("G11",)
        ),
        "events_js_divergence": QuerySpec(
            q_events_js_divergence,
            _EVENTS_JS_DIVERGENCE_ORACLE,
            ("A60",),
        ),
        "events_jackknife_ci": QuerySpec(
            q_events_jackknife_ci,
            _EVENTS_JACKKNIFE_CI_ORACLE,
            ("A61",),
        ),
        "events_hurst": QuerySpec(
            q_events_hurst, _EVENTS_HURST_ORACLE, ("TS30",)
        ),
        "emb_centroid_audit": QuerySpec(
            q_emb_centroid_audit,
            _EMB_CENTROID_AUDIT_ORACLE,
            ("V18",),
        ),
        "events_sax_motifs": QuerySpec(
            q_events_sax_motifs,
            _EVENTS_SAX_MOTIFS_ORACLE,
            ("TS31",),
        ),
        "doc_golden_records": QuerySpec(
            q_doc_golden_records,
            _DOC_GOLDEN_RECORDS_ORACLE,
            ("D15", "D5"),
        ),
        "events_seasonal_mase": QuerySpec(
            q_events_seasonal_mase,
            _EVENTS_SEASONAL_MASE_ORACLE,
            ("TS32",),
        ),
        "doc_kn_logprob": QuerySpec(
            q_doc_kn_logprob,
            _DOC_KN_LOGPROB_ORACLE,
            ("L33", "lang-model"),
        ),
        "media_shot_boundaries": QuerySpec(
            q_media_shot_boundaries,
            _MEDIA_SHOT_BOUNDARIES_ORACLE,
            ("M1", "multimodal-shots"),
        ),
        "nation_spend_theil": QuerySpec(
            q_nation_spend_theil,
            _NATION_SPEND_THEIL_ORACLE,
            ("A62",),
        ),
        "orders_keyset_pages": QuerySpec(
            q_orders_keyset_pages,
            _ORDERS_KEYSET_PAGES_ORACLE,
            ("O11",),
        ),
        "dedup_threshold_sweep": QuerySpec(
            q_dedup_threshold_sweep,
            _DEDUP_THRESHOLD_SWEEP_ORACLE,
            ("D16", "L22", "dedup-jaccard"),
        ),
        "emb_cosine_histogram": QuerySpec(
            q_emb_cosine_histogram,
            _EMB_COSINE_HISTOGRAM_ORACLE,
            ("V19",),
        ),
        "events_peak_hours": QuerySpec(
            q_events_peak_hours,
            _EVENTS_PEAK_HOURS_ORACLE,
            ("TS33",),
        ),
        "events_cramers_v": QuerySpec(
            q_events_cramers_v,
            _EVENTS_CRAMERS_V_ORACLE,
            ("A63", "A42"),
        ),
        "vocab_burstiness": QuerySpec(
            q_vocab_burstiness,
            _VOCAB_BURSTINESS_ORACLE,
            ("L34", "text-analysis"),
        ),
        "incident_allen_relations": QuerySpec(
            q_incident_allen_relations,
            _INCIDENT_ALLEN_RELATIONS_ORACLE,
            ("I5", "I3"),
        ),
        "events_rank_biserial": QuerySpec(
            q_events_rank_biserial,
            _EVENTS_RANK_BISERIAL_ORACLE,
            ("A64", "A55"),
        ),
        "erddap_url_build": QuerySpec(
            q_erddap_url_build,
            _ERDDAP_URL_BUILD_ORACLE,
            ("F8", "S1"),
        ),
        "events_degraded_streak": QuerySpec(
            q_events_degraded_streak,
            _EVENTS_DEGRADED_STREAK_ORACLE,
            ("TS34",),
        ),
        "emb_centroid_classifier": QuerySpec(
            q_emb_centroid_classifier,
            _EMB_CENTROID_CLASSIFIER_ORACLE,
            ("V20", "V18"),
        ),
        "events_anova_f": QuerySpec(
            q_events_anova_f, _EVENTS_ANOVA_F_ORACLE, ("A59",)
        ),
        "events_discord": QuerySpec(
            q_events_discord, _EVENTS_DISCORD_ORACLE, ("TS29",)
        ),
        "part_qty_topk_ties": QuerySpec(
            q_part_qty_topk_ties,
            _PART_QTY_TOPK_TIES_ORACLE,
            ("O10",),
        ),
        "events_seasonal_strength": QuerySpec(
            q_events_seasonal_strength,
            _EVENTS_SEASONAL_STRENGTH_ORACLE,
            ("TS28",),
        ),
        "events_kruskal_wallis": QuerySpec(
            q_events_kruskal_wallis,
            _EVENTS_KRUSKAL_WALLIS_ORACLE,
            ("A58",),
        ),
        "ann_nprobe_recall_curve": QuerySpec(
            q_ann_nprobe_recall_curve,
            _ANN_NPROBE_RECALL_ORACLE,
            ("V17",),
        ),
        "join_skew_advisor": QuerySpec(
            q_join_skew_advisor,
            _JOIN_SKEW_ADVISOR_ORACLE,
            ("Z5",),
        ),
        "erddap_stream_scan": QuerySpec(
            q_erddap_stream_scan,
            _ERDDAP_STREAM_SCAN_ORACLE,
            ("S13",),
        ),
        "minhash_recall_audit": QuerySpec(
            q_minhash_recall_audit,
            _MINHASH_RECALL_AUDIT_ORACLE,
            ("D14",),
        ),
        "trade_reciprocity": QuerySpec(
            q_trade_reciprocity, _TRADE_RECIPROCITY_ORACLE, ("G10",)
        ),
        "events_runs_test": QuerySpec(
            q_events_runs_test, _EVENTS_RUNS_TEST_ORACLE, ("A57",)
        ),
        "formats_roundtrip": QuerySpec(
            q_formats_roundtrip, _FORMATS_ROUNDTRIP_ORACLE, ("S18",)
        ),
        "erddap_report_roundtrip": QuerySpec(
            q_erddap_report_roundtrip,
            _ERDDAP_REPORT_ROUNDTRIP_ORACLE,
            ("K10",),
        ),
        "events_version_diff": QuerySpec(
            q_events_version_diff,
            _EVENTS_VERSION_DIFF_ORACLE,
            ("K15",),
        ),
        "events_blocking_audit": QuerySpec(
            q_events_blocking_audit,
            _EVENTS_BLOCKING_AUDIT_ORACLE,
            ("D13",),
        ),
        "doc_quality_funnel": QuerySpec(
            q_doc_quality_funnel,
            _DOC_QUALITY_FUNNEL_ORACLE,
            ("L32",),
        ),
        "events_mann_kendall": QuerySpec(
            q_events_mann_kendall,
            _EVENTS_MANN_KENDALL_ORACLE,
            ("TS27",),
        ),
        "nation_hhi": QuerySpec(
            q_nation_hhi, _NATION_HHI_ORACLE, ("A56",)
        ),
        "vocab_oov_rate": QuerySpec(
            q_vocab_oov_rate, _VOCAB_OOV_RATE_ORACLE, ("L31",)
        ),
        "erddap_staged_scan": QuerySpec(
            q_erddap_staged_scan,
            _ERDDAP_STAGED_SCAN_ORACLE,
            ("S12",),
        ),
        "parts_schema_evolution": QuerySpec(
            q_parts_schema_evolution,
            _PARTS_SCHEMA_EVOLUTION_ORACLE,
            ("S17",),
        ),
        "events_upsert_replay": QuerySpec(
            q_events_upsert_replay,
            _EVENTS_UPSERT_REPLAY_ORACLE,
            ("K2", "K3", "K6", "K7"),
        ),
        "emb_upsert_replay": QuerySpec(
            q_emb_upsert_replay,
            _EMB_UPSERT_REPLAY_ORACLE,
            ("K4", "K5"),
        ),
        "events_quality_observed": QuerySpec(
            q_events_quality_observed,
            _EVENTS_QUALITY_OBSERVED_ORACLE,
            ("A15",),
        ),
        "argo_sync_documents": QuerySpec(
            q_argo_sync_documents,
            _ARGO_SYNC_DOCUMENTS_ORACLE,
            ("C4",),
        ),
        "events_cuped": QuerySpec(
            q_events_cuped, _EVENTS_CUPED_ORACLE, ("A54",)
        ),
        "events_mannwhitney": QuerySpec(
            q_events_mannwhitney, _EVENTS_MANNWHITNEY_ORACLE, ("A55",)
        ),
        "user_communities": QuerySpec(
            q_user_communities, _USER_COMMUNITIES_ORACLE, ("G9",)
        ),
        "events_rolling_median": QuerySpec(
            q_events_rolling_median,
            _EVENTS_ROLLING_MEDIAN_ORACLE,
            ("TS25",),
        ),
        "doc_weighted_sample": QuerySpec(
            q_doc_weighted_sample, _DOC_WEIGHTED_SAMPLE_ORACLE, ("L29",)
        ),
        "events_changepoint": QuerySpec(
            q_events_changepoint, _EVENTS_CHANGEPOINT_ORACLE, ("TS26",)
        ),
        "emb_prefix_dim_audit": QuerySpec(
            q_emb_prefix_dim_audit,
            _EMB_PREFIX_DIM_AUDIT_ORACLE,
            ("V16",),
        ),
        "corpus_datasheet": QuerySpec(
            q_corpus_datasheet, _CORPUS_DATASHEET_ORACLE, ("L30",)
        ),
        "events_cdc_apply": QuerySpec(
            q_events_cdc_apply, _EVENTS_CDC_APPLY_ORACLE, ("K14",)
        ),
        "trade_core": QuerySpec(
            q_trade_core, _TRADE_CORE_ORACLE, ("G6",)
        ),
        "events_acf": QuerySpec(
            q_events_acf, _EVENTS_ACF_ORACLE, ("TS20",)
        ),
        "doc_rater_kappa": QuerySpec(
            q_doc_rater_kappa, _DOC_RATER_KAPPA_ORACLE, ("A45",)
        ),
        "doc_linkage_scores": QuerySpec(
            q_doc_linkage_scores, _DOC_LINKAGE_SCORES_ORACLE, ("D10",)
        ),
        "events_winsorized_stats": QuerySpec(
            q_events_winsorized_stats,
            _EVENTS_WINSORIZED_STATS_ORACLE,
            ("A46",),
        ),
        "doc_fim_split": QuerySpec(
            q_doc_fim_split, _DOC_FIM_SPLIT_ORACLE, ("L25",)
        ),
        "emb_rp_topk": QuerySpec(
            q_emb_rp_topk, _EMB_RP_TOPK_ORACLE, ("V14",)
        ),
        "incident_activity_overlap": QuerySpec(
            q_incident_activity_overlap,
            _INCIDENT_ACTIVITY_OVERLAP_ORACLE,
            ("I3",),
        ),
        "events_positional_attribution": QuerySpec(
            q_events_positional_attribution,
            _EVENTS_POSITIONAL_ATTRIBUTION_ORACLE,
            ("TS21",),
        ),
        "doc_calibration_curve": QuerySpec(
            q_doc_calibration_curve,
            _DOC_CALIBRATION_CURVE_ORACLE,
            ("A47",),
        ),
        "events_m4": QuerySpec(
            q_events_m4, _EVENTS_M4_ORACLE, ("TS22",)
        ),
        "corpus_shard_plan": QuerySpec(
            q_corpus_shard_plan, _CORPUS_SHARD_PLAN_ORACLE, ("Z4",)
        ),
        "events_srm": QuerySpec(
            q_events_srm, _EVENTS_SRM_ORACLE, ("A48",)
        ),
        "dup_cluster_sizes": QuerySpec(
            q_dup_cluster_sizes, _DUP_CLUSTER_SIZES_ORACLE, ("D11",)
        ),
        "vocab_zipf_fit": QuerySpec(
            q_vocab_zipf_fit, _VOCAB_ZIPF_FIT_ORACLE, ("L27",)
        ),
        "user_survival_curve": QuerySpec(
            q_user_survival_curve, _USER_SURVIVAL_CURVE_ORACLE, ("A50",)
        ),
        "events_lttb": QuerySpec(
            q_events_lttb, _EVENTS_LTTB_ORACLE, ("TS23",)
        ),
        "lang_source_mi": QuerySpec(
            q_lang_source_mi, _LANG_SOURCE_MI_ORACLE, ("A51",)
        ),
        "media_phash_pairs": QuerySpec(
            q_media_phash_pairs,
            _MEDIA_PHASH_PAIRS_ORACLE,
            ("D12", "multimodal-phash"),
        ),
        "events_ppr": QuerySpec(
            q_events_ppr, _EVENTS_PPR_ORACLE, ("G7",)
        ),
        "whale_revenue_share": QuerySpec(
            q_whale_revenue_share, _WHALE_REVENUE_SHARE_ORACLE, ("A52",)
        ),
        "events_scd2_asof": QuerySpec(
            q_events_scd2_asof, _EVENTS_SCD2_ASOF_ORACLE, ("K13",)
        ),
        "dedup_token_savings": QuerySpec(
            q_dedup_token_savings, _DEDUP_TOKEN_SAVINGS_ORACLE, ("L28",)
        ),
        "incident_uptime": QuerySpec(
            q_incident_uptime, _INCIDENT_UPTIME_ORACLE, ("I4",)
        ),
        "events_wilson_lb": QuerySpec(
            q_events_wilson_lb, _EVENTS_WILSON_LB_ORACLE, ("A53",)
        ),
        "trade_assortativity": QuerySpec(
            q_trade_assortativity, _TRADE_ASSORTATIVITY_ORACLE, ("G8",)
        ),
        "stream_srm": QuerySpec(
            q_stream_srm, _STREAM_SRM_ORACLE, ("S20",)
        ),
        "events_roc_alarms": QuerySpec(
            q_events_roc_alarms, _EVENTS_ROC_ALARMS_ORACLE, ("TS24",)
        ),
        "ann_recall_audit": QuerySpec(
            q_ann_recall_audit, _ANN_RECALL_AUDIT_ORACLE, ("V15",)
        ),
        "cohort_ltv_curve": QuerySpec(
            q_cohort_ltv_curve, _COHORT_LTV_CURVE_ORACLE, ("A44",)
        ),
        "events_asof_nearest": QuerySpec(
            q_events_asof_nearest,
            _EVENTS_ASOF_NEAREST_ORACLE,
            ("TS19",),
        ),
        "emb_hamming_topk": QuerySpec(
            q_emb_hamming_topk, _EMB_HAMMING_TOPK_ORACLE, ("V13",)
        ),
        "events_disorder_rate": QuerySpec(
            q_events_disorder_rate,
            _EVENTS_DISORDER_RATE_ORACLE,
            ("TS18",),
        ),
        "nation_revenue_share": QuerySpec(
            q_nation_revenue_share,
            _NATION_REVENUE_SHARE_ORACLE,
            ("A43",),
        ),
        "events_chi2_independence": QuerySpec(
            q_events_chi2_independence,
            _EVENTS_CHI2_INDEPENDENCE_ORACLE,
            ("A42",),
        ),
        "corpus_novelty_curve": QuerySpec(
            q_corpus_novelty_curve,
            _CORPUS_NOVELTY_CURVE_ORACLE,
            ("L26",),
        ),
        "events_twap": QuerySpec(
            q_events_twap, _EVENTS_TWAP_ORACLE, ("TS17",)
        ),
        "doc_diverse_topk": QuerySpec(
            q_doc_diverse_topk, _DOC_DIVERSE_TOPK_ORACLE, ("O9",)
        ),
        "customer_snm_pairs": QuerySpec(
            q_customer_snm_pairs, _CUSTOMER_SNM_PAIRS_ORACLE, ("D9",)
        ),
        "events_dispersion": QuerySpec(
            q_events_dispersion, _EVENTS_DISPERSION_ORACLE, ("A41",)
        ),
        "events_ks_test": QuerySpec(
            q_events_ks_test, _EVENTS_KS_TEST_ORACLE, ("A39",)
        ),
        "spend_rank_correlation": QuerySpec(
            q_spend_rank_correlation,
            _SPEND_RANK_CORRELATION_ORACLE,
            ("A40",),
        ),
        "events_markov_transitions": QuerySpec(
            q_events_markov_transitions,
            _EVENTS_MARKOV_TRANSITIONS_ORACLE,
            ("TS16",),
        ),
        "stream_capped_sessions": QuerySpec(
            q_stream_capped_sessions,
            _STREAM_CAPPED_SESSIONS_ORACLE,
            ("S19",),
        ),
        "events_capped_sessions": QuerySpec(
            q_events_capped_sessions,
            _EVENTS_CAPPED_SESSIONS_ORACLE,
            ("TS15",),
        ),
        "events_cumulative_users": QuerySpec(
            q_events_cumulative_users,
            _EVENTS_CUMULATIVE_USERS_ORACLE,
            ("A38",),
        ),
        "degree_distribution": QuerySpec(
            q_degree_distribution, _DEGREE_DISTRIBUTION_ORACLE, ("G5",)
        ),
        "gini_spend": QuerySpec(
            q_gini_spend, _GINI_SPEND_ORACLE, ("A37",)
        ),
        "source_unigram_drift": QuerySpec(
            q_source_unigram_drift, _SOURCE_UNIGRAM_DRIFT_ORACLE, ("L24",)
        ),
        "doc_tfidf_topk": QuerySpec(
            q_doc_tfidf_topk, _DOC_TFIDF_TOPK_ORACLE, ("L23",)
        ),
        "doc_editdist_pairs": QuerySpec(
            q_doc_editdist_pairs, _DOC_EDITDIST_PAIRS_ORACLE, ("D8",)
        ),
        "link_prediction": QuerySpec(
            q_link_prediction, _LINK_PREDICTION_ORACLE, ("G4",)
        ),
        "events_holt_trend": QuerySpec(
            q_events_holt_trend, _EVENTS_HOLT_TREND_ORACLE, ("TS14",)
        ),
        "market_basket_lift": QuerySpec(
            q_market_basket_lift, _MARKET_BASKET_LIFT_ORACLE, ("A33",)
        ),
        "part_skyline": QuerySpec(
            q_part_skyline, _PART_SKYLINE_ORACLE, ("A34",)
        ),
        "rfm_segments": QuerySpec(
            q_rfm_segments, _RFM_SEGMENTS_ORACLE, ("A35",)
        ),
        "benford_digits": QuerySpec(
            q_benford_digits, _BENFORD_DIGITS_ORACLE, ("A36",)
        ),
        "events_attribution": QuerySpec(
            q_events_attribution, _EVENTS_ATTRIBUTION_ORACLE, ("TS13",)
        ),
        "events_sliding_distinct": QuerySpec(
            q_events_sliding_distinct,
            _EVENTS_SLIDING_DISTINCT_ORACLE,
            ("A24",),
        ),
        "events_seasonal_baseline": QuerySpec(
            q_events_seasonal_baseline,
            _EVENTS_SEASONAL_BASELINE_ORACLE,
            ("TS10",),
        ),
        "events_value_trend": QuerySpec(
            q_events_value_trend, _EVENTS_VALUE_TREND_ORACLE, ("A25",)
        ),
        "user_triangles": QuerySpec(
            q_user_triangles, _USER_TRIANGLES_ORACLE, ("G2",)
        ),
        "table_profile": QuerySpec(
            q_table_profile, _TABLE_PROFILE_ORACLE, ("A26",)
        ),
        "geo_close_pairs": QuerySpec(
            q_geo_close_pairs, _GEO_CLOSE_PAIRS_ORACLE, ("J17",)
        ),
        "part_revenue_abc": QuerySpec(
            q_part_revenue_abc, _PART_REVENUE_ABC_ORACLE, ("A27",)
        ),
        "lineitem_weighted_median": QuerySpec(
            q_lineitem_weighted_median,
            _LINEITEM_WEIGHTED_MEDIAN_ORACLE,
            ("A28",),
        ),
        "events_cusum": QuerySpec(
            q_events_cusum, _EVENTS_CUSUM_ORACLE, ("TS12",)
        ),
        "funnel_latency": QuerySpec(
            q_funnel_latency, _FUNNEL_LATENCY_ORACLE, ("TS11",)
        ),
        "user_reach_horizon": QuerySpec(
            q_user_reach_horizon, _USER_REACH_HORIZON_ORACLE, ("G3",)
        ),
        "doc_bottomk_sample": QuerySpec(
            q_doc_bottomk_sample, _DOC_BOTTOMK_SAMPLE_ORACLE, ("L21",)
        ),
        "doc_ppjoin_pairs": QuerySpec(
            q_doc_ppjoin_pairs, _DOC_PPJOIN_PAIRS_ORACLE, ("L22",)
        ),
        "events_ab_lift": QuerySpec(
            q_events_ab_lift, _EVENTS_AB_LIFT_ORACLE, ("A31",)
        ),
        "events_theilsen_trend": QuerySpec(
            q_events_theilsen_trend,
            _EVENTS_THEILSEN_TREND_ORACLE,
            ("A32",),
        ),
        "events_new_vs_returning": QuerySpec(
            q_events_new_vs_returning,
            _EVENTS_NEW_VS_RETURNING_ORACLE,
            ("A30",),
        ),
        "geo_hotspots": QuerySpec(
            q_geo_hotspots, _GEO_HOTSPOTS_ORACLE, ("J18",)
        ),
        "corpus_mixing_allocation": QuerySpec(
            q_corpus_mixing_allocation,
            _CORPUS_MIXING_ALLOCATION_ORACLE,
            ("L19",),
        ),
        "doc_char_entropy": QuerySpec(
            q_doc_char_entropy, _DOC_CHAR_ENTROPY_ORACLE, ("L20",)
        ),
        "events_drift": QuerySpec(
            q_events_drift, _EVENTS_DRIFT_ORACLE, ("A29",)
        ),
        "argo_clean": QuerySpec(
            q_argo_clean,
            _ARGO_CLEAN_ORACLE,
            ("F1", "F2", "F3", "F4", "F5", "F6", "P3", "P4", "P5"),
        ),
        "argo_float_metadata": QuerySpec(
            q_argo_float_metadata, _ARGO_FLOAT_METADATA_ORACLE, ("A1", "A6")
        ),
        "argo_profiles_eav": QuerySpec(
            q_argo_profiles_eav,
            _ARGO_PROFILES_EAV_ORACLE,
            ("R2", "R3", "C10", "F7"),
        ),
        "tpch_pricing_summary": QuerySpec(
            q_tpch_pricing_summary, _TPCH_PRICING_ORACLE, ("A1", "A3")
        ),
        "top_revenue_orders": QuerySpec(
            q_top_revenue_orders, _TOP_REVENUE_ORACLE, ("J4", "O2")
        ),
        "cosine_topk": QuerySpec(
            q_cosine_topk, _COSINE_TOPK_ORACLE, ("O3", "O4", "V3", "J5")
        ),
        "events_hourly": QuerySpec(
            q_events_hourly, _EVENTS_HOURLY_ORACLE, ("A7", "streaming-window")
        ),
        "events_sessions": QuerySpec(
            q_events_sessions, _EVENTS_SESSIONS_ORACLE, ("streaming-session",)
        ),
        "events_latest": QuerySpec(
            q_events_latest, _EVENTS_LATEST_ORACLE, ("D1", "K1")
        ),
        "events_props_avg": QuerySpec(
            q_events_props_avg, _EVENTS_PROPS_ORACLE, ("P7",)
        ),
        "events_props_variant": QuerySpec(
            q_events_props_variant, _EVENTS_PROPS_VARIANT_ORACLE, ("P12",)
        ),
        "events_salted_rollup": QuerySpec(
            q_events_salted_rollup, _EVENTS_SALTED_ROLLUP_ORACLE, ("Z2",)
        ),
        "doc_sentences": QuerySpec(
            q_doc_sentences, _DOC_SENTENCES_ORACLE, ("U2",)
        ),
        "argo_new_floats": QuerySpec(
            q_argo_new_floats, _ARGO_NEW_FLOATS_ORACLE, ("J1", "D2")
        ),
        "argo_fuzzy_match": QuerySpec(
            q_argo_fuzzy_match, _ARGO_FUZZY_ORACLE, ("J2", "J3")
        ),
        "argo_global_stats": QuerySpec(
            q_argo_global_stats, _ARGO_GLOBAL_STATS_ORACLE, ("A3",)
        ),
        "argo_profile_stats": QuerySpec(
            q_argo_profile_stats, _ARGO_PROFILE_STATS_ORACLE, ("A2",)
        ),
        "argo_region_class": QuerySpec(
            q_argo_region_class, _ARGO_REGION_CLASS_ORACLE, ("C5", "C6", "C7")
        ),
        "region_revenue": QuerySpec(
            q_region_revenue, _REGION_REVENUE_ORACLE, ("J4",)
        ),
        "customer_top_orders": QuerySpec(
            q_customer_top_orders,
            _CUSTOMER_TOP_ORDERS_ORACLE,
            ("O2", "O5")
        ),
        "customer_order_distribution": QuerySpec(
            q_customer_order_distribution,
            _CUSTOMER_ORDER_DISTRIBUTION_ORACLE,
            ("J6",),
        ),
        "part_small_qty_revenue": QuerySpec(
            q_part_small_qty_revenue,
            _PART_SMALL_QTY_REVENUE_ORACLE,
            ("J7",),
        ),
        "sole_return_suppliers": QuerySpec(
            q_sole_return_suppliers,
            _SOLE_RETURN_SUPPLIERS_ORACLE,
            ("J8",),
        ),
        "rich_idle_customers": QuerySpec(
            q_rich_idle_customers,
            _RICH_IDLE_CUSTOMERS_ORACLE,
            ("J9",),
        ),
        "top_supplier_revenue": QuerySpec(
            q_top_supplier_revenue,
            _TOP_SUPPLIER_REVENUE_ORACLE,
            ("O7",),
        ),
        "large_volume_customers": QuerySpec(
            q_large_volume_customers,
            _LARGE_VOLUME_CUSTOMERS_ORACLE,
            ("A14",),
        ),
        "nation_trade_flows": QuerySpec(
            q_nation_trade_flows,
            _NATION_TRADE_FLOWS_ORACLE,
            ("J10",),
        ),
        "brand_promo_revenue": QuerySpec(
            q_brand_promo_revenue,
            _BRAND_PROMO_REVENUE_ORACLE,
            ("F12",),
        ),
        "min_cost_part_supplier": QuerySpec(
            q_min_cost_part_supplier,
            _MIN_COST_PART_SUPPLIER_ORACLE,
            ("J11",),
        ),
        "late_order_priority": QuerySpec(
            q_late_order_priority,
            _LATE_ORDER_PRIORITY_ORACLE,
            ("J12",),
        ),
        "nation_market_share": QuerySpec(
            q_nation_market_share,
            _NATION_MARKET_SHARE_ORACLE,
            ("J13",),
        ),
        "part_type_profit": QuerySpec(
            q_part_type_profit,
            _PART_TYPE_PROFIT_ORACLE,
            ("A19",),
        ),
        "returned_item_customers": QuerySpec(
            q_returned_item_customers,
            _RETURNED_ITEM_CUSTOMERS_ORACLE,
            ("J14",),
        ),
        "important_part_values": QuerySpec(
            q_important_part_values,
            _IMPORTANT_PART_VALUES_ORACLE,
            ("A16",),
        ),
        "linestatus_priority_counts": QuerySpec(
            q_linestatus_priority_counts,
            _LINESTATUS_PRIORITY_COUNTS_ORACLE,
            ("A17",),
        ),
        "supplier_part_diversity": QuerySpec(
            q_supplier_part_diversity,
            _SUPPLIER_PART_DIVERSITY_ORACLE,
            ("A18",),
        ),
        "promo_part_shippers": QuerySpec(
            q_promo_part_shippers,
            _PROMO_PART_SHIPPERS_ORACLE,
            ("J15",),
        ),
        "doc_winnow": QuerySpec(
            q_doc_winnow,
            _DOC_WINNOW_ORACLE,
            ("L15", "fingerprint"),
        ),
        "doc_winnow_pairs": QuerySpec(
            q_doc_winnow_pairs,
            _DOC_WINNOW_PAIRS_ORACLE,
            ("L16",),
        ),
        "vocab_bpe_merges": QuerySpec(
            q_vocab_bpe_merges,
            _VOCAB_BPE_MERGES_ORACLE,
            ("L17", "bpe-tokens"),
        ),
        "doc_length_histogram": QuerySpec(
            q_doc_length_histogram,
            _DOC_LENGTH_HISTOGRAM_ORACLE,
            ("A21",),
        ),
        "lakehouse_quality_audit": QuerySpec(
            q_lakehouse_quality_audit,
            _LAKEHOUSE_QUALITY_AUDIT_ORACLE,
            ("A22",),
        ),
        "events_top_paths": QuerySpec(
            q_events_top_paths,
            _EVENTS_TOP_PATHS_ORACLE,
            ("TS6",),
        ),
        "events_mad_outliers": QuerySpec(
            q_events_mad_outliers,
            _EVENTS_MAD_OUTLIERS_ORACLE,
            ("A20",),
        ),
        "events_cooccurrence": QuerySpec(
            q_events_cooccurrence,
            _EVENTS_COOCCURRENCE_ORACLE,
            ("A23",),
        ),
        "events_debounce": QuerySpec(
            q_events_debounce,
            _EVENTS_DEBOUNCE_ORACLE,
            ("D6",),
        ),
        "events_rate_limit": QuerySpec(
            q_events_rate_limit,
            _EVENTS_RATE_LIMIT_ORACLE,
            ("D7",),
        ),
        "events_ohlc": QuerySpec(
            q_events_ohlc,
            _EVENTS_OHLC_ORACLE,
            ("TS7",),
        ),
        "events_ewma_anomaly": QuerySpec(
            q_events_ewma_anomaly,
            _EVENTS_EWMA_ANOMALY_ORACLE,
            ("TS8",),
        ),
        "events_gapfill_interp": QuerySpec(
            q_events_gapfill_interp,
            _EVENTS_GAPFILL_INTERP_ORACLE,
            ("TS9",),
        ),
        "stream_neardup_intake": QuerySpec(
            q_stream_neardup_intake,
            _STREAM_NEARDUP_INTAKE_ORACLE,
            ("S15", "streaming-dedup", "dedup-lsh"),
        ),
        "stream_type_counters": QuerySpec(
            q_stream_type_counters,
            _STREAM_TYPE_COUNTERS_ORACLE,
            ("S14", "streaming-stateful"),
        ),
        "stream_ewma_anomaly": QuerySpec(
            q_stream_ewma_anomaly,
            _EVENTS_EWMA_ANOMALY_ORACLE,
            ("S16", "streaming-stateful"),
        ),
        "events_scd2": QuerySpec(
            q_events_scd2,
            _EVENTS_SCD2_ORACLE,
            ("K11",),
        ),
        "emb_mmr_rerank": QuerySpec(
            q_emb_mmr_rerank,
            _EMB_MMR_RERANK_ORACLE,
            ("V12",),
        ),
        "events_pagerank": QuerySpec(
            q_events_pagerank,
            _EVENTS_PAGERANK_ORACLE,
            ("G1", "graph-pagerank", "iterative-join"),
        ),
        "events_peak_concurrency": QuerySpec(
            q_events_peak_concurrency,
            _EVENTS_PEAK_CONCURRENCY_ORACLE,
            ("I1", "interval-sweep"),
        ),
        "events_interval_union": QuerySpec(
            q_events_interval_union,
            _EVENTS_INTERVAL_UNION_ORACLE,
            ("I2", "interval-union"),
        ),
        "events_hourly_ivm": QuerySpec(
            q_events_hourly_ivm,
            _EVENTS_HOURLY_IVM_ORACLE,
            ("K12", "incremental-view"),
        ),
        "bucketed_order_revenue": QuerySpec(
            q_bucketed_order_revenue,
            _BUCKETED_ORDER_REVENUE_ORACLE,
            ("Z3", "bucketed-join"),
        ),
        "bloom_filtered_order_revenue": QuerySpec(
            q_bloom_filtered_order_revenue,
            _BLOOM_FILTERED_ORDER_REVENUE_ORACLE,
            ("J16", "bloom-join"),
        ),
        "order_price_deciles": QuerySpec(
            q_order_price_deciles,
            _ORDER_PRICE_DECILES_ORACLE,
            ("O8",),
        ),
        "stream_enrich": QuerySpec(
            q_stream_enrich,
            _STREAM_ENRICH_ORACLE,
            ("S11",),
        ),
        "doc_token_stats": QuerySpec(
            q_doc_token_stats, _DOC_TOKEN_STATS_ORACLE, ("text-analysis",)
        ),
        "doc_quality": QuerySpec(
            q_doc_quality, _DOC_QUALITY_ORACLE, ("text-quality",)
        ),
        "doc_lang_id": QuerySpec(
            q_doc_lang_id, _DOC_LANG_ID_ORACLE, ("lang-id",)
        ),
        "doc_exact_dedup": QuerySpec(
            q_doc_exact_dedup, _DOC_EXACT_DEDUP_ORACLE, ("D1", "dedup-exact")
        ),
        "doc_fingerprint": QuerySpec(
            q_doc_fingerprint, _DOC_FINGERPRINT_ORACLE, ("fingerprint",)
        ),
        "doc_ngram_jaccard": QuerySpec(
            q_doc_ngram_jaccard, _DOC_NGRAM_JACCARD_ORACLE, ("dedup-jaccard",)
        ),
        "source_minhash_overlap": QuerySpec(
            q_source_minhash_overlap,
            _SOURCE_MINHASH_OVERLAP_ORACLE,
            ("L18", "dedup-minhash"),
        ),
        "doc_minhash_sigs": QuerySpec(
            q_doc_minhash_sigs, _DOC_MINHASH_SIGS_ORACLE, ("dedup-minhash",)
        ),
        "doc_minhash_lsh_pairs": QuerySpec(
            q_doc_minhash_lsh_pairs, _DOC_MINHASH_LSH_ORACLE, ("dedup-lsh",)
        ),
        "doc_simhash": QuerySpec(
            q_doc_simhash, _DOC_SIMHASH_ORACLE, ("dedup-simhash",)
        ),
        "emb_near_dup": QuerySpec(
            q_emb_near_dup, _EMB_NEAR_DUP_ORACLE, ("V4", "dedup-embedding")
        ),
        "emb_knn_label": QuerySpec(
            q_emb_knn_label, _EMB_KNN_ORACLE, ("O4", "F10", "V4")
        ),
        "emb_audit": QuerySpec(
            q_emb_audit, _EMB_AUDIT_ORACLE, ("V6", "A8", "S9")
        ),
        "argo_summaries": QuerySpec(
            q_argo_summaries,
            _ARGO_SUMMARIES_ORACLE,
            ("C1", "C2", "C8", "C9", "A5")
        ),
        "argo_explode_roundtrip": QuerySpec(
            q_argo_explode_roundtrip, _ARGO_EXPLODE_ORACLE, ("R1",)
        ),
        "argo_profile_pivot": QuerySpec(
            q_argo_profile_pivot, _ARGO_PROFILE_PIVOT_ORACLE, ("A4",)
        ),
        "argo_properties_flat": QuerySpec(
            q_argo_properties_flat, _ARGO_PROPERTIES_FLAT_ORACLE, ("R4", "P9")
        ),
        "filename_float_ids": QuerySpec(
            q_filename_float_ids, _FILENAME_FLOAT_IDS_ORACLE, ("P8",)
        ),
        "emb_filtered_topk": QuerySpec(
            q_emb_filtered_topk, _EMB_FILTERED_TOPK_ORACLE, ("F10", "O4")
        ),
        "collection_stats": QuerySpec(
            q_collection_stats, _COLLECTION_STATS_ORACLE, ("A7", "K8")
        ),
        "stream_hourly": QuerySpec(
            q_stream_hourly,
            _STREAM_HOURLY_ORACLE,
            ("streaming-window", "S10"),
        ),
        "stream_sessions": QuerySpec(
            q_stream_sessions,
            _STREAM_SESSIONS_ORACLE,
            ("streaming-session", "S10"),
        ),
        "stream_user_stats": QuerySpec(
            q_stream_user_stats,
            _STREAM_USER_STATS_ORACLE,
            ("streaming-stateful",),
        ),
        "stream_dedup": QuerySpec(
            q_stream_dedup,
            _STREAM_DEDUP_ORACLE,
            ("streaming-dedup", "D1"),
        ),
        "stream_sliding": QuerySpec(
            q_stream_sliding,
            _STREAM_SLIDING_ORACLE,
            ("streaming-sliding",),
        ),
        "revenue_rollup": QuerySpec(
            q_revenue_rollup,
            _REVENUE_ROLLUP_ORACLE,
            ("grouping-sets", "J4"),
        ),
        "ann_ivf_topk": QuerySpec(
            q_ann_ivf_topk, _ANN_IVF_ORACLE, ("O6", "V4", "ann-ivf")
        ),
        "netcdf_ingest": QuerySpec(
            q_netcdf_ingest,
            _NETCDF_INGEST_ORACLE,
            ("S2", "S3", "S4", "P1", "P2", "R1", "F11"),
        ),
        "semantic_search": QuerySpec(
            q_semantic_search,
            _SEMANTIC_SEARCH_ORACLE,
            ("V1", "V2", "V3", "V7", "O3", "O4", "F10"),
        ),
        "semantic_search_batch": QuerySpec(
            q_semantic_search_batch,
            _SEMANTIC_SEARCH_BATCH_ORACLE,
            ("V7", "O3", "F10"),
        ),
        "embedding_repair": QuerySpec(
            q_embedding_repair, _EMBEDDING_REPAIR_ORACLE, ("V5",)
        ),
        "ann_lsh_topk": QuerySpec(
            q_ann_lsh_topk, _ANN_LSH_ORACLE, ("O6", "V4")
        ),
        "media_metadata": QuerySpec(
            q_media_metadata, _MEDIA_METADATA_ORACLE, ("multimodal-metadata",)
        ),
        "media_frames": QuerySpec(
            q_media_frames, _MEDIA_FRAMES_ORACLE, ("multimodal-frames",)
        ),
        "argo_summary_v1": QuerySpec(
            q_argo_summary_v1, _ARGO_SUMMARY_V1_ORACLE, ("C1", "C5", "C6", "C8")
        ),
        "argo_upload_description": QuerySpec(
            q_argo_upload_description,
            _ARGO_UPLOAD_DESC_ORACLE,
            ("C3", "A3"),
        ),
        "doc_type_classify": QuerySpec(
            q_doc_type_classify, _DOC_TYPE_CLASSIFY_ORACLE, ("P10", "D4", "P7")
        ),
        "summary_stat_extract": QuerySpec(
            q_summary_stat_extract,
            _summary_stat_extract_oracle(),
            ("P11",),
        ),
        "sync_diff": QuerySpec(q_sync_diff, _SYNC_DIFF_ORACLE, ("D3",)),
        "floats_scan_ordered": QuerySpec(
            q_floats_scan_ordered,
            _FLOATS_SCAN_ORDERED_ORACLE,
            ("S7", "S8", "F9", "O1"),
        ),
        "try_casts": QuerySpec(q_try_casts, _TRY_CASTS_ORACLE, ("P5", "P6")),
        "doc_bpe_tokens": QuerySpec(
            q_doc_bpe_tokens, _DOC_BPE_TOKENS_ORACLE, ("bpe-tokens",)
        ),
        "corpus_selection": QuerySpec(
            q_corpus_selection,
            _CORPUS_SELECTION_ORACLE,
            ("corpus-selection", "dedup-exact", "text-quality", "lang-id"),
        ),
        "events_asof": QuerySpec(
            q_events_asof, _EVENTS_ASOF_ORACLE, ("TS1",)
        ),
        "events_asof_cogrouped": QuerySpec(
            q_events_asof_cogrouped, _EVENTS_ASOF_ORACLE, ("U1",)
        ),
        "error_click_window": QuerySpec(
            q_error_click_window, _ERROR_CLICK_WINDOW_ORACLE, ("TS2",)
        ),
        "event_funnel": QuerySpec(
            q_event_funnel, _EVENT_FUNNEL_ORACLE, ("TS3",)
        ),
        "doc_train_split": QuerySpec(
            q_doc_train_split, _DOC_TRAIN_SPLIT_ORACLE, ("L1",)
        ),
        "doc_stratified_sample": QuerySpec(
            q_doc_stratified_sample, _DOC_STRATIFIED_SAMPLE_ORACLE, ("L2",)
        ),
        "doc_pack_sequences": QuerySpec(
            q_doc_pack_sequences, _DOC_PACK_SEQUENCES_ORACLE, ("L3",)
        ),
        "doc_pii_redact": QuerySpec(
            q_doc_pii_redact, _DOC_PII_REDACT_ORACLE, ("L4",)
        ),
        "doc_bm25": QuerySpec(q_doc_bm25, _DOC_BM25_ORACLE, ("L5",)),
        "doc_dup_clusters": QuerySpec(
            q_doc_dup_clusters, _DOC_DUP_CLUSTERS_ORACLE, ("D5", "dedup-lsh")
        ),
        "emb_semdedup": QuerySpec(
            q_emb_semdedup, _EMB_SEMDEDUP_ORACLE, ("V8", "dedup-embedding")
        ),
        "doc_decontaminate": QuerySpec(
            q_doc_decontaminate, _DOC_DECONTAMINATE_ORACLE, ("L6",)
        ),
        "doc_repetition": QuerySpec(
            q_doc_repetition, _DOC_REPETITION_ORACLE, ("L7", "text-quality")
        ),
        "doc_chunks": QuerySpec(q_doc_chunks, _DOC_CHUNKS_ORACLE, ("L8",)),
        "events_gapfill": QuerySpec(
            q_events_gapfill, _EVENTS_GAPFILL_ORACLE, ("TS4",)
        ),
        "stream_error_clicks": QuerySpec(
            q_stream_error_clicks,
            _STREAM_ERROR_CLICKS_ORACLE,
            ("streaming-join",),
        ),
        "events_rolling": QuerySpec(
            q_events_rolling, _EVENTS_ROLLING_ORACLE, ("TS5",)
        ),
        "source_quantiles": QuerySpec(
            q_source_quantiles, _SOURCE_QUANTILES_ORACLE, ("A9",)
        ),
        "source_quantiles_sketch": QuerySpec(
            q_source_quantiles_sketch, _SOURCE_QUANTILES_SKETCH_ORACLE, ("A9",)
        ),
        "emb_quantize": QuerySpec(
            q_emb_quantize, _EMB_QUANTIZE_ORACLE, ("V9",)
        ),
        "vocab_top_terms": QuerySpec(
            q_vocab_top_terms, _VOCAB_TOP_TERMS_ORACLE, ("text-analysis",)
        ),
        "doc_dedup_apply": QuerySpec(
            q_doc_dedup_apply,
            _DOC_DEDUP_APPLY_ORACLE,
            ("D5", "dedup-lsh"),
        ),
        "doc_segment_dedup": QuerySpec(
            q_doc_segment_dedup,
            _DOC_SEGMENT_DEDUP_ORACLE,
            ("L9", "dedup-exact"),
        ),
        "vocab_cms_topk": QuerySpec(
            q_vocab_cms_topk,
            _VOCAB_CMS_TOPK_ORACLE,
            ("A10", "text-analysis"),
        ),
        "events_zorder": QuerySpec(
            q_events_zorder, _EVENTS_ZORDER_ORACLE, ("Z1",)
        ),
        "ann_pq_topk": QuerySpec(
            q_ann_pq_topk, _ANN_PQ_ORACLE, ("V10", "ann-ivf")
        ),
        "events_distinct_users": QuerySpec(
            q_events_distinct_users,
            _EVENTS_DISTINCT_USERS_ORACLE,
            ("A11", "sketch-hll", "A7"),
        ),
        "events_distinct_users_sketch": QuerySpec(
            q_events_distinct_users_sketch,
            _EVENTS_DISTINCT_USERS_SKETCH_ORACLE,
            ("A11", "sketch-hll"),
        ),
        "events_cube": QuerySpec(
            q_events_cube, _EVENTS_CUBE_ORACLE, ("A12", "grouping-sets")
        ),
        "user_retention_cohort": QuerySpec(
            q_user_retention_cohort,
            _USER_RETENTION_ORACLE,
            ("A13", "cohort-retention"),
        ),
        "doc_bloom_decontaminate": QuerySpec(
            q_doc_bloom_decontaminate,
            _DOC_BLOOM_DECONTAMINATE_ORACLE,
            ("L10", "L6", "sketch-bloom"),
        ),
        "doc_unigram_logprob": QuerySpec(
            q_doc_unigram_logprob,
            _DOC_UNIGRAM_LOGPROB_ORACLE,
            ("L11", "text-quality", "lang-model"),
        ),
        "doc_leakage_safe_split": QuerySpec(
            q_doc_leakage_safe_split,
            _DOC_LEAKAGE_SPLIT_ORACLE,
            ("L12", "L1", "D5", "leakage-safe-split"),
        ),
        "corpus_temperature_sample": QuerySpec(
            q_corpus_temperature_sample,
            _CORPUS_TEMPERATURE_ORACLE,
            ("L13", "L2", "temperature-sampling"),
        ),
        "corpus_perplexity_filter": QuerySpec(
            q_corpus_perplexity_filter,
            _CORPUS_PERPLEXITY_ORACLE,
            ("L14", "L11", "A9", "text-quality"),
        ),
        "doc_hybrid_rrf": QuerySpec(
            q_doc_hybrid_rrf,
            _DOC_HYBRID_RRF_ORACLE,
            ("V11", "L5", "O3", "V7", "hybrid-rrf"),
        ),
    }
