"""Gold floats — the package's one silver → gold composition.

aggregate (A1, ``float_metadata_agg``) → NL summary (C2,
``float_summary_v2``) → encode (V1, ``encode_text``): one row per float
with the metadata columns, its ``document`` and the ``embedding`` of that
document. The encoder runs here, once per float per build; readers score
the stored vectors (``embeddings.search.semantic_search``) instead of
re-encoding documents at query time — the reference's "embed at ingest,
query the index" split (embeddings/embed.py → ChromaDB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from floatchat_datapipeline_spark.embeddings.encoder import VEC_COL, encode_text
from floatchat_datapipeline_spark.functions.text import float_summary_v2
from floatchat_datapipeline_spark.operators.aggregate import float_metadata_agg


def gold_floats(silver: DataFrame) -> DataFrame:
    """Cleaned silver measurements → (float_id, metadata columns,
    document, embedding)."""
    agg = float_metadata_agg(silver)
    cols = {c: F.col(c) for c in agg.columns}
    return agg.withColumn("document", float_summary_v2(cols)).withColumn(
        VEC_COL, encode_text("document")
    )
