"""Semantic search + ANN scale path (reference O3/O4/V2-V5, §3.3).

``semantic_search`` is the reference's query engine rebuilt Spark-first:
encode the query on the driver (V2), broadcast it as a literal, metadata
pre-filter (F10 — filter BEFORE ranking, the cheap order), score with a
JVM cosine expression (V3), and TakeOrderedAndProject for top-k (O3) — no
full sort, no driver collect of the corpus. Over a corpus that stores its
vectors (an ``embedding`` column, as gold does — ``gold.gold_floats``) the
query plan has no Python at all: documents were encoded once, at build
time, like the reference's embed-then-index split. A text-only corpus is
encoded per query by the pandas_udf encoder (V1).

``ann_lsh_topk`` is the 100 TB path standing in for the reference's
ivfflat/HNSW indexes (O6): random-hyperplane LSH where plane components
are ``sin(997·p + d)`` — deterministic and expressible in any engine, so
the DuckDB oracle can replay bucketing exactly. Candidates = same
signature bucket; exact cosine re-ranks inside the bucket. Recall/cost is
tuned by n_planes (each plane halves the expected bucket).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from floatchat_datapipeline_spark.embeddings.encoder import (
    VEC_COL,
    encode_present_udf,
    encode_query,
    encode_text,
)
from floatchat_datapipeline_spark.functions.vector import cosine

N_PLANES = 8


def semantic_search(
    docs: DataFrame,
    query_text: str,
    k: int = 10,
    where: Column | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k docs by stub-encoder cosine against `query_text`, with an
    optional metadata pre-filter. Returns (id, score) ranked.

    If `docs` has a stored vector column (``embedding``), those vectors are
    scored and no encoder runs; rows whose vector is null are left out of
    the ranking (``repair_embeddings`` is the write-side path that fills
    them). Otherwise every candidate's `text_col` is encoded."""
    qvec = F.array(*[F.lit(x) for x in encode_query(query_text)])
    if where is not None:
        docs = docs.filter(where)
    if VEC_COL in docs.columns:
        vecs = docs.filter(F.col(VEC_COL).isNotNull()).select(
            F.col(id_col), F.col(VEC_COL).alias("_vec")
        )
    else:
        vecs = docs.select(F.col(id_col), encode_text(text_col).alias("_vec"))
    return (
        vecs.select(
            id_col,
            F.round(cosine(F.col("_vec"), qvec), 6).alias("score"),
        )
        .orderBy(F.desc("score"), F.col(id_col))
        .limit(k)
    )


def lsh_signature(
    vec_col: Column | str, n_planes: int = N_PLANES, dim: int | None = None
) -> Column:
    """Random-hyperplane signature: bit p = [dot(v, plane_p) >= 0] where
    plane_p[d] = sin(997·p + d). Pure JVM expression.

    With `dim` unset the plane length follows the vector's own length
    (F.size), so the same expression serves the 64-d stub encoder and a
    384-d real encoder — a fixed-length plane would null-pad the zip and
    silently collapse every vector into one bucket. With `dim` set, the
    plane components are FOLDABLE `F.sin(lit)` subexpressions in a
    codegen-able expansion: Catalyst constant-folds them with the same
    JVM sin the default path evaluates at runtime, so both paths and the
    DuckDB oracle bucket identically. (A Python `math.sin` literal here
    is NOT safe — it differs from JVM sin in the last ulp for 8 of the
    3072 plane args at dim=384.) Measured trade-off: the n_planes×dim
    expression tree costs seconds of Catalyst analysis/codegen per plan,
    so it only pays off when row count is large enough to amortize it
    (millions of rows); default None is faster at test scale."""
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    bits = []
    for p in range(n_planes):
        if dim is not None:
            dot = F.lit(0.0)
            for d in range(dim):
                dot = dot + F.element_at(v, d + 1).cast("double") * F.sin(
                    F.lit(float(997 * p + d))
                )
        else:
            dot = F.aggregate(
                F.zip_with(
                    v.cast("array<double>"),
                    F.transform(
                        F.sequence(F.lit(0), F.size(v) - 1),
                        lambda d: F.sin(F.lit(997 * p) + d.cast("double")),
                    ),
                    lambda a, b: a * b,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        bits.append(F.when(dot >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def ann_lsh_topk(
    emb: DataFrame,
    query_id: int,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = N_PLANES,
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k for the stored vector `query_id`: candidates
    share its LSH signature; exact cosine re-ranks them. The signature
    equi-join shuffles by bucket key — never a cross join."""
    keyed = emb.select(
        F.col(id_col),
        F.col(vec_col),
        lsh_signature(vec_col, n_planes, dim).alias("sig"),
    )
    q = keyed.filter(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("qvec"), F.col("sig").alias("qsig")
    )
    return (
        keyed.filter(F.col(id_col) != query_id)
        .join(F.broadcast(q), F.col("sig") == F.col("qsig"))
        .select(
            id_col,
            F.round(cosine(F.col(vec_col), F.col("qvec"), dim), 6).alias(
                "score"
            ),
        )
        .orderBy(F.desc("score"), F.col(id_col))
        .limit(k)
    )


def repair_embeddings(
    df: DataFrame,
    text_col: str = "text",
    vec_col: str = VEC_COL,
) -> DataFrame:
    """V5 — re-encode rows whose embedding is missing; rows with a vector
    pass through untouched. One pass over `df`: the encoder is handed the
    text of the null rows only (null for the rest), so only they are
    encoded. A CASE around ``encode_text`` would not do that — Spark
    evaluates the extracted pandas_udf below the CASE, on every row."""
    vec = F.col(vec_col)
    text = F.when(vec.isNull(), F.coalesce(F.col(text_col), F.lit("")))
    return df.withColumn(
        vec_col,
        F.coalesce(vec, encode_present_udf(text).cast(df.schema[vec_col].dataType)),
    )


def semantic_search_batch(
    docs: DataFrame,
    queries: dict[str, str],
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Many queries in ONE job: the corpus is encoded once, the encoded
    query set is broadcast, and a per-query window takes top-k. This is
    the shape batch retrieval takes at scale — N queries over a 100 TB
    corpus cost one corpus scan, not N.

    Output: (query_id, id, score, rank)."""
    from pyspark.sql import Window

    spark = docs.sparkSession
    enc = [(qid, encode_query(text)) for qid, text in queries.items()]
    qdf = spark.createDataFrame(enc, "query_id string, qvec array<double>")
    doc_vec = docs.select(F.col(id_col), encode_text(text_col).alias("_vec"))
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.col(id_col))
    return (
        doc_vec.crossJoin(F.broadcast(qdf))
        .select(
            "query_id",
            id_col,
            F.round(cosine(F.col("_vec"), F.col("qvec")), 6).alias("score"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


KMEANS_ITERS = 2
IVF_NPROBE = 2


def _double_sql(x: float) -> str:
    """A SQL double literal with the exact bits of `x` (repr is the
    shortest round-tripping decimal; Java's parseDouble is correctly
    rounded, so the JVM reconstructs the identical binary64)."""
    r = repr(float(x))
    if r in ("inf", "-inf", "nan"):  # never in trained model state
        raise ValueError(f"non-finite centroid component: {x}")
    return f"CAST('{r}' AS DOUBLE)"


def nearest_centroid(
    vec: Column | str, cents: list[tuple[int, list[float]]]
) -> Column:
    """IVF coarse quantization as a PURE per-row expression: with the k×d
    centroid matrix inlined as literals (model state, broadcast by value
    into the plan), the argmax is `array_max` over (sim, -cid) structs —
    no crossJoin, no window, NO SHUFFLE. At 100 TB this is the difference
    between a map-only assignment pass and shuffling the whole corpus by
    vector id.

    Sim is 6dp-rounded BEFORE the argmax so near-tie assignments are
    stable across engines; ties break to the LOWEST cid (negated cid in
    the struct makes struct-max pick it).

    The centroid matrix is inlined ONCE as a nested array literal and
    traversed with zip_with, and ‖v‖ is computed once per row — a flat
    per-centroid expansion would repeat the k×d literals per cosine and
    blow up Catalyst analysis time (measured ~1 s/plan at k=8, d=64).

    `vec` may be a Column or a SQL expression STRING. Prefer the string:
    the whole argmax is then assembled as ONE SQL text and handed to the
    parser in a single py4j call — building the same tree through the
    Column API costs thousands of py4j round trips (measured ~4 s just to
    CONSTRUCT the m=16 encode projection at PQ's 32×4 codebooks, and
    worse at SemDedup's √N×64 matrix). Both paths parse/build the
    identical expression, so results are bit-for-bit the same."""
    if isinstance(vec, str):
        return F.expr(_nearest_centroid_sql(vec, cents))
    from floatchat_datapipeline_spark.functions.vector import dot, norm

    # single nested-array Literal (one plan node for the whole k×d matrix)
    mat = F.lit([[float(x) for x in cvec] for _, cvec in cents])
    cids = F.lit([int(cid) for cid, _ in cents])
    vnorm = norm(vec)
    # Zero-norm guard: cosine is undefined for a zero-norm vector or
    # centroid; a -2.0 sentinel (below the cosine range) keeps the argmax
    # a TOTAL deterministic order instead of aborting under ANSI mode —
    # an all-sentinel row ties every centroid and the neg-cid tiebreak
    # assigns the lowest cid. Mirrored in the SQL path and every oracle.
    # try_divide + coalesce rather than CaseWhen for the same reason as
    # the SQL path's nullif (see _nearest_centroid_sql): a CASE guard
    # repeats the norm folds in its predicate, and the folds don't
    # codegen — per CENTROID per row that doubling is the dominant
    # assignment cost (emb_semdedup +57% in round 12, PLANS.md).
    best = F.array_max(
        F.zip_with(
            mat,
            cids,
            lambda cvec, cid: F.struct(
                F.coalesce(
                    F.round(
                        F.try_divide(dot(vec, cvec), vnorm * norm(cvec)), 6
                    ),
                    F.lit(-2.0),
                ).alias("sim"),
                (-cid).alias("neg_cid"),
            ),
        )
    )
    return (-best.getField("neg_cid")).cast("int")


def _nearest_centroid_sql(
    vec_sql: str, cents: list[tuple[int, list[float]]]
) -> str:
    """The same expression as the Column path of `nearest_centroid`,
    rendered as Spark-SQL text: identical function composition (aggregate
    folds from 0.0 double, zip_with products, 6dp round before argmax,
    neg-cid tie-break), so the parsed tree evaluates bit-identically."""
    mat = ", ".join(
        "array(" + ", ".join(_double_sql(x) for x in cvec) + ")"
        for _, cvec in cents
    )
    cids = ", ".join(str(int(cid)) for cid, _ in cents)
    dot_sql = (
        f"aggregate(zip_with({vec_sql}, cvec, (x, y) -> "
        "CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    norm_sql = (
        "sqrt(aggregate({v}, CAST(0.0 AS DOUBLE), "
        "(acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))"
    )
    vnorm = norm_sql.format(v=vec_sql)
    cnorm = norm_sql.format(v="cvec")
    # Same zero-norm sentinel as the Column path (see nearest_centroid),
    # via nullif + coalesce rather than CASE: a CASE guard would repeat
    # the two norm folds in its condition, doubling the argmax's SQL
    # text — at PQ's m=16 × ksub=32 literal matrices that parse/analysis
    # cost is measured in seconds per plan. nullif makes the divisor
    # NULL when 0 (division by NULL is NULL under ANSI, never an abort)
    # and coalesce maps the undefined cosine to the sentinel.
    sim_sql = (
        f"coalesce(round({dot_sql} / nullif({vnorm} * {cnorm}, "
        f"CAST(0.0 AS DOUBLE)), 6), CAST(-2.0 AS DOUBLE))"
    )
    return (
        f"CAST(-((array_max(zip_with(array({mat}), array({cids}), "
        f"(cvec, cid) -> named_struct("
        f"'sim', {sim_sql}, "
        f"'neg_cid', -cid)))).neg_cid) AS INT)"
    )


# Trained-quantizer cache: centroids are MODEL STATE — an IVF index is
# built once per corpus and amortized over every query against it (the
# FAISS index lifecycle; the reference persists its ivfflat index the
# same way, ingest/schema.sql:41). Keyed by an explicit caller-supplied
# corpus identity (e.g. the table path) plus the training hyperparams.
_CENTROID_CACHE: dict[tuple, list[tuple[int, list[float]]]] = {}

# Assigned-corpus cache: (id, vec, cluster) persisted per corpus — the
# IVF-flat inverted lists themselves. Building it pays the k×d argmax
# scan once per corpus; warm queries then read nprobe clusters out of
# memory instead of re-assigning the whole corpus per query. At 100 TB
# this is the cluster-partitioned table the docstrings describe.
_IVF_INDEX_CACHE: dict[tuple, DataFrame] = {}


def reset_caches() -> None:
    for df in _IVF_INDEX_CACHE.values():
        try:
            df.unpersist()
        except Exception:
            pass
    _IVF_INDEX_CACHE.clear()
    _CENTROID_CACHE.clear()


def kmeans_centroids(
    emb: DataFrame,
    n_centroids: int = 8,
    iters: int = KMEANS_ITERS,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cache_key: str | None = None,
) -> list[tuple[int, list[float]]]:
    """Deterministic spherical-k-means centroids (Lloyd iterations).

    Seeds are the `n_centroids` lowest-id vectors renumbered 0..k-1; each
    iteration reassigns every vector (cosine argmax, 6dp-rounded for
    cross-engine tie stability) and recomputes centroids as per-position
    means. Means are computed IN SPARK as `round(sum,6)/n` — the rounded
    sum makes the value partial-aggregation-order independent, and the
    quotient stays a raw IEEE double because an outer round lands on
    decimal half boundaries (short-decimal sums over integer counts) that
    Spark and DuckDB round in opposite directions.

    Plan shape: each Lloyd iteration is ONE map-only assignment expression
    (`nearest_centroid`, no shuffle) feeding a posexplode →
    groupBy(cluster, pos) mean — the d× row fan-out is pipelined inside
    the map stage and partial-aggregated there, so the shuffle carries
    only k×d rows per partition, never the exploded corpus. The k×d
    result is collected and re-literalized per iteration:
    it is model state (metadata scale), and cutting the lineage keeps
    iteration i from re-running iterations 1..i-1's corpus passes — Lloyd
    is O(iters · corpus), not O(iters² · corpus). FAISS trains its coarse
    quantizer the same way (sampled, driver-side); the full-corpus pass
    here is exact at test scale and would train on a sample at 100 TB.

    Output: [(cid, centroid_vector)] sorted by cid — driver-side model
    state, ready to inline into `nearest_centroid`.

    `cache_key` (an explicit corpus identity, e.g. the source path)
    memoizes the trained quantizer: training costs 2·iters corpus passes
    and is paid once per corpus, not once per query.
    """
    memo = (cache_key, n_centroids, iters, vec_col, id_col) if cache_key else None
    if memo is not None and memo in _CENTROID_CACHE:
        return _CENTROID_CACHE[memo]
    base = emb.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias(vec_col)
    )
    seed_rows = base.orderBy(id_col).limit(n_centroids).collect()
    cents = [
        (i, [float(x) for x in r[vec_col]]) for i, r in enumerate(seed_rows)
    ]
    for _ in range(iters):
        # persist = a CollapseProject barrier (the pq_train rule): the
        # optimizer otherwise inlines the argmax into the posexplode
        # pipeline and re-evaluates it per exploded row — d× per vector.
        assigned = base.withColumn(
            "cluster", nearest_centroid(f"`{vec_col}`", cents)
        ).persist()
        comp = (
            assigned.select(
                "cluster", F.posexplode(vec_col).alias("_pos", "_val")
            )
            .groupBy("cluster", "_pos")
            .agg(
                # round the SUM (order-independence); the quotient stays a
                # raw IEEE double — an outer round lands on decimal half
                # boundaries for short-decimal/int quotients and Spark and
                # DuckDB round those in opposite directions (see
                # operators/windows.py hourly_rollup note)
                (F.round(F.sum("_val"), 6) / F.count(F.lit(1))).alias("_m")
            )
        )
        rows = (
            comp.groupBy("cluster")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_pos", "_m"))),
                    lambda s: s.getField("_m"),
                ).alias("_cvec")
            )
            .collect()
        )
        assigned.unpersist()
        cents = sorted(
            (int(r["cluster"]), [float(x) for x in r["_cvec"]]) for r in rows
        )
    if memo is not None:
        _CENTROID_CACHE[memo] = cents
    return cents


def ann_ivf_topk(
    emb: DataFrame,
    query_id: int,
    k: int = 5,
    n_centroids: int = 8,
    nprobe: int = IVF_NPROBE,
    iters: int = KMEANS_ITERS,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cache_key: str | None = None,
    dim: int | None = None,
) -> DataFrame:
    """IVF probe: search the query's `nprobe` nearest clusters, exact
    cosine re-rank within. At scale the cluster assignment is precomputed
    and the probe reads nprobe partitions of a cluster-partitioned table —
    the standard billion-vector layout (FAISS IVF-flat with trained coarse
    quantizer and multi-probe). Pass `cache_key` to reuse a previously
    trained quantizer for the same corpus."""
    cents = kmeans_centroids(emb, n_centroids, iters, vec_col, id_col, cache_key)
    base = emb.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias(vec_col)
    )
    memo = (
        (cache_key, n_centroids, iters, vec_col, id_col)
        if cache_key
        else None
    )
    if memo is not None and memo in _IVF_INDEX_CACHE:
        assigned = _IVF_INDEX_CACHE[memo]
    else:
        assigned = base.withColumn(
            "cluster", nearest_centroid(f"`{vec_col}`", cents)
        )
        if memo is not None:
            assigned = assigned.persist()
            assigned.count()  # build the inverted lists at index time
            _IVF_INDEX_CACHE[memo] = assigned
    # Read the query vector out of the (possibly cached) assigned table —
    # under a warm index this is an in-memory lookup, not a parquet scan.
    q = assigned.filter(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("qvec")
    )
    cents_df = emb.sparkSession.createDataFrame(
        cents, "_cid int, _cvec array<double>"
    )
    probe = (
        cents_df.crossJoin(F.broadcast(q))
        .select(
            "_cid",
            F.round(cosine(F.col("_cvec"), F.col("qvec"), dim), 6).alias(
                "_sim"
            ),
        )
        .orderBy(F.desc("_sim"), F.col("_cid"))
        .limit(nprobe)
        .select(F.col("_cid").alias("probe_cluster"))
    )
    return (
        assigned.filter(F.col(id_col) != query_id)
        .join(F.broadcast(probe), F.col("cluster") == F.col("probe_cluster"))
        .crossJoin(F.broadcast(q))
        .select(
            id_col,
            "cluster",
            F.round(cosine(F.col(vec_col), F.col("qvec"), dim), 6).alias(
                "score"
            ),
        )
        .orderBy(F.desc("score"), F.col(id_col))
        .limit(k)
    )
