"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` — flagship pipeline smoke on sf0.001.
`queries()` — one entry per implemented operator from SURVEY.md §2.
`oracle_sql()` — DuckDB-dialect equivalents for the correctness gate.

Parity rules used throughout (see plans/argo_views.py):
- every aggregate / computed column is aliased identically on both sides;
- double sums are over exactly-representable values where possible,
  otherwise rounded on both sides;
- DuckDB regexp_replace gets the 'g' flag to match Spark's replace-all.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from floatchat_datapipeline_spark.gold import gold_floats
from floatchat_datapipeline_spark.operators import cleaning
from floatchat_datapipeline_spark.plans.argo_views import argo_raw_df
from floatchat_datapipeline_spark.queries import registry

# ---------------------------------------------------------------------------
# entry — flagship pipeline smoke (sf0.001)
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the full vertical slice (SURVEY.md §7.5) as one lazy
    plan — derive raw measurements → clean (F1-F7) → gold floats
    (per-float metadata A1 → NL summary C2 → stub-encode V1) → cosine
    top-10 over the gold vectors for 'warm tropical surface water' (O3),
    with the metadata columns joined back onto the hits."""
    from floatchat_datapipeline_spark.embeddings.search import semantic_search

    sf_dir = "/root/testdata/sf0.001"
    gold = gold_floats(cleaning.clean_argo(argo_raw_df(spark, sf_dir)))
    hits = semantic_search(
        gold,
        "warm tropical surface water",
        k=10,
        text_col="document",
        id_col="float_id",
    )
    return hits.join(
        gold.select(
            "float_id", "total_profiles", "temperature_max", "lat_min", "lat_max"
        ),
        "float_id",
    ).orderBy(F.desc("score"), "float_id")


# ---------------------------------------------------------------------------
# queries / oracles — delegated to the registry module
# ---------------------------------------------------------------------------


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.spark for name, spec in registry().items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: spec.oracle
        for name, spec in registry().items()
        if spec.oracle is not None
    }
