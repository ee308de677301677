"""Vector-index behaviour that spans IVF, PQ and LSH: null vectors stay out
of training and of the candidate set, the centroid ranker agrees with the
nearest-centroid assignment, and the warm IVF query is one plan."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from floatchat_datapipeline_spark.catalog import load_table
from floatchat_datapipeline_spark.plans.checks import plan_string

_SCHEMA = "vec_id long, embedding array<double>"


def _vec_rows(n: int, dim: int = 8, seed: int = 3):
    rng = np.random.default_rng(seed)
    return [(i, [float(x) for x in rng.normal(size=dim)]) for i in range(n)]


def test_kmeans_skips_a_null_lowest_id_vector(spark):
    """A null vector is not a seed: training reads only rows that have a
    vector, so the centroids equal those of the frame without the row."""
    from floatchat_datapipeline_spark.embeddings.search import kmeans_centroids

    rows = _vec_rows(12)
    with_null = spark.createDataFrame([(-1, None)] + rows, _SCHEMA)
    without = spark.createDataFrame(rows, _SCHEMA)
    assert kmeans_centroids(with_null, 3) == kmeans_centroids(without, 3)


def test_pq_train_skips_a_null_lowest_id_vector(spark):
    from floatchat_datapipeline_spark.embeddings.pq import pq_train

    rows = _vec_rows(12)
    with_null = spark.createDataFrame([(-1, None)] + rows, _SCHEMA)
    without = spark.createDataFrame(rows, _SCHEMA)
    assert pq_train(with_null, 8, m=2, ksub=3) == pq_train(without, 8, m=2, ksub=3)


def test_ivf_leaves_null_vectors_out(spark):
    """Null vectors are neither assigned to a cluster nor returned: the
    answer is the one over the rows that have a vector, as in
    `semantic_search`."""
    from floatchat_datapipeline_spark.embeddings.search import ann_ivf_topk

    rows = _vec_rows(6)
    with_null = spark.createDataFrame(rows + [(10, None), (11, None)], _SCHEMA)
    without = spark.createDataFrame(rows, _SCHEMA)
    got = ann_ivf_topk(with_null, 0, k=7, n_centroids=2).collect()
    want = ann_ivf_topk(without, 0, k=7, n_centroids=2).collect()
    assert all(r["score"] is not None for r in got), got
    assert got == want


def test_lsh_leaves_null_vectors_out(spark):
    """A null vector's signature is all zeros; a query in that bucket must
    not get the null rows back as candidates. (One plane keeps the bucket
    easy to hit: every plane sin(997·p + d) lies in the span of sin d and
    cos d, so the all-zeros bucket of 8 planes can be empty.)"""
    from floatchat_datapipeline_spark.embeddings.search import (
        ann_lsh_topk,
        lsh_signature,
    )

    q = [-float(np.sin(d)) for d in range(16)]
    rows = [(0, q), (1, [2 * x for x in q])]
    df = spark.createDataFrame(rows + [(10, None), (11, None)], _SCHEMA)
    sigs = {
        r["vec_id"]: r["sig"]
        for r in df.select("vec_id", lsh_signature("embedding", 1).alias("sig")).collect()
    }
    assert sigs[0] == sigs[10] == "0"
    got = [tuple(r) for r in ann_lsh_topk(df, 0, k=5, n_planes=1).collect()]
    assert got == [(1, 1.0)]


def test_nearest_centroids_ranks_the_assignment_first(spark, sf_dir):
    """The top-n centroid ranker and the argmax assignment are the same
    ranking: entry 1 of the top-n list is the assigned cluster, for every
    vector, and the list holds n distinct ids."""
    from floatchat_datapipeline_spark.embeddings.search import (
        kmeans_centroids,
        nearest_centroid,
        nearest_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    cents = kmeans_centroids(emb, 8, vec_col="v")
    ranked = emb.select(
        nearest_centroid("v", cents).alias("c"),
        nearest_centroids("v", cents, 3).alias("top"),
    ).collect()
    assert ranked
    for r in ranked:
        assert r["top"][0] == r["c"]
        assert len(set(r["top"])) == 3


def test_warm_ivf_query_is_one_plan_over_the_index(spark, sf_dir):
    """The probe is computed on the query row read out of the memoized
    index: no driver-built centroid table and a single broadcast."""
    from floatchat_datapipeline_spark.embeddings import search as s

    s.reset_caches()
    emb = load_table(spark, sf_dir, "embeddings")
    key = f"{sf_dir}/embeddings.parquet#test-ivf-one-plan"
    s.ann_ivf_topk(emb, query_id=1, k=5, cache_key=key).collect()
    warm = s.ann_ivf_topk(emb, query_id=2, k=5, cache_key=key)
    plan = plan_string(warm, mode="simple")
    assert "LocalTableScan" not in plan, plan
    assert plan.count("BroadcastExchange") == 1, plan
    s.reset_caches()


def test_batch_search_scores_stored_vectors(spark, sf_dir):
    """Over a corpus with stored vectors, batch search runs no encoder and
    ranks each query as per-query `semantic_search` does."""
    from floatchat_datapipeline_spark.api import FloatChatEngine
    from floatchat_datapipeline_spark.embeddings.search import (
        semantic_search,
        semantic_search_batch,
    )

    gold = FloatChatEngine(spark, sf_dir).gold
    queries = {"q1": "warm salty water", "q2": "deep cold profile"}
    batch = semantic_search_batch(
        gold, queries, k=5, text_col="document", id_col="float_id"
    )
    assert "ArrowEvalPython" not in plan_string(batch)
    for qid, text in queries.items():
        got = [
            (r["float_id"], r["score"])
            for r in batch.filter(F.col("query_id") == qid).orderBy("rank").collect()
        ]
        want = [
            tuple(r)
            for r in semantic_search(
                gold, text, k=5, text_col="document", id_col="float_id"
            ).collect()
        ]
        assert got and got == want, qid
