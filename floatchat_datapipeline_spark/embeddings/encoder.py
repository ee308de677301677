"""Text → vector encoder (reference V1/V2 — embeddings/embed.py:22-44,
:176-198; loaded per process at fastapi_app.py:377-386 etc.).

Architecture mirrors the reference's pattern Spark-natively: the model is
an executor-local lazy singleton (loaded once per Python worker, reused
across Arrow batches — the Spark equivalent of the reference's module-
level SentenceTransformer), and encoding is a ``pandas_udf`` so text
ships to Python in Arrow batches, not row-at-a-time.

Two backends:
- **Stub (default)**: deterministic token-hash bag-of-words, dim 64,
  L2-normalized. Chosen because it is *SQL-expressible* — the DuckDB
  oracle recomputes the same vectors exactly (md5-bucket counts), so the
  whole semantic-search pipeline is value-checked end-to-end
  (SURVEY.md §7.4 risk 5: correctness tests target the stub encoder).
- **sentence-transformers**, if importable AND ``SPARK_GRAFT_REAL_ENCODER``
  is set: `all-MiniLM-L6-v2`, 384-d — the reference's production model.
  Not installed in this container; the seam is the point.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType

STUB_DIM = 64
VEC_COL = "embedding"  # the stored-vector column of gold and of repaired frames

_MODEL = None


class _StubModel:
    """Deterministic hash-ngram encoder. encode() matches the SQL
    rendering in stub_encoder_sql() bucket for bucket."""

    dim = STUB_DIM

    def encode(self, texts: list[str]) -> np.ndarray:
        out = np.zeros((len(texts), self.dim), dtype="float64")
        for i, t in enumerate(texts):
            for tok in t.split(" "):
                b = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % self.dim
                out[i, b] += 1.0
            n = np.sqrt((out[i] * out[i]).sum())
            if n > 0:
                out[i] /= n
        return out


def get_model():
    """Executor-local singleton (one load per Python worker process)."""
    global _MODEL
    if _MODEL is None:
        if os.environ.get("SPARK_GRAFT_REAL_ENCODER"):
            try:
                from sentence_transformers import SentenceTransformer  # noqa: PLC0415

                _MODEL = SentenceTransformer("all-MiniLM-L6-v2")
            except ImportError:
                _MODEL = _StubModel()
        else:
            _MODEL = _StubModel()
    return _MODEL


@F.pandas_udf(ArrayType(DoubleType()))
def encode_udf(texts: pd.Series) -> pd.Series:
    """V1 — batch encode; one Arrow batch per call, model reused."""
    model = get_model()
    vecs = model.encode(texts.fillna("").tolist())
    return pd.Series(list(np.asarray(vecs, dtype="float64")))


def encode_text(col: Column | str) -> Column:
    return encode_udf(F.col(col) if isinstance(col, str) else col)


@F.pandas_udf(ArrayType(DoubleType()))
def encode_present_udf(texts: pd.Series) -> pd.Series:
    """V5 — encode only the non-null texts; a null text yields a null
    vector, so the model never sees the rows a caller masked out."""
    todo = texts.notna().to_numpy()
    vecs = iter(np.asarray(get_model().encode(texts[todo].tolist()), dtype="float64"))
    return pd.Series([next(vecs) if t else None for t in todo], dtype=object)


def encode_query(text: str) -> list[float]:
    """V2 — driver-side single-text encode (broadcast as a literal into
    the search plan)."""
    return [float(x) for x in get_model().encode([text])[0]]


def stub_encoder_sql(text_expr: str, table: str, id_expr: str) -> str:
    """DuckDB CTE fragment computing the stub embedding for every row of
    `table`: yields (id, bucket, w) sparse normalized components. Used by
    oracles to replicate encode_udf exactly."""
    return f"""
_tok AS (
  SELECT {id_expr} AS _id, unnest(string_split({text_expr}, ' ')) AS tok
  FROM {table}
),
_buckets AS (
  SELECT _id,
         CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) % {STUB_DIM} AS bucket,
         count(*) AS c
  FROM _tok GROUP BY 1, 2
),
_norms AS (
  SELECT _id, sqrt(sum(CAST(c * c AS DOUBLE))) AS nrm FROM _buckets GROUP BY 1
),
_vec AS (
  SELECT b._id, b.bucket, CAST(b.c AS DOUBLE) / n.nrm AS w
  FROM _buckets b JOIN _norms n ON b._id = n._id
)
"""
