"""Encoder/search unit tests — determinism, normalization, LSH recall."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from floatchat_datapipeline_spark.catalog import load_table
from floatchat_datapipeline_spark.embeddings.encoder import (
    STUB_DIM,
    encode_query,
    get_model,
)
from floatchat_datapipeline_spark.embeddings.search import (
    ann_lsh_topk,
    lsh_signature,
    semantic_search,
)


def test_stub_encoder_deterministic_and_normalized():
    v1 = encode_query("warm tropical surface water")
    v2 = encode_query("warm tropical surface water")
    assert v1 == v2
    assert len(v1) == STUB_DIM
    assert abs(np.linalg.norm(v1) - 1.0) < 1e-12


def test_stub_encoder_batch_matches_single():
    m = get_model()
    batch = m.encode(["a b c", "a b c", "x y"])
    single = m.encode(["a b c"])[0]
    assert np.allclose(batch[0], single)
    assert np.allclose(batch[0], batch[1])


def test_semantic_search_self_retrieval(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    probe = docs.limit(1).collect()[0]
    hits = semantic_search(docs, probe["text"], k=3).collect()
    # a document is its own nearest neighbor with cosine exactly 1
    assert hits[0]["doc_id"] == probe["doc_id"]
    assert abs(hits[0]["score"] - 1.0) < 1e-6


def test_lsh_bucket_contains_exact_top1(spark, sf_dir):
    """Recall sanity: LSH top-1 should be the exact top-1 whenever the
    exact top-1 lands in the query's bucket; both must score identically
    when they agree."""
    emb = load_table(spark, sf_dir, "embeddings")
    from floatchat_datapipeline_spark.functions.vector import cosine

    q = emb.filter(F.col("vec_id") == 1).select(
        F.col("embedding").alias("qvec")
    )
    exact = (
        emb.filter(F.col("vec_id") != 1)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(cosine(F.col("embedding"), F.col("qvec")), 6).alias("score"),
        )
        .orderBy(F.desc("score"), "vec_id")
        .limit(1)
        .collect()[0]
    )
    approx = ann_lsh_topk(emb, query_id=1, k=1).collect()
    assert approx, "query bucket empty — LSH degenerate"
    if approx[0]["vec_id"] == exact["vec_id"]:
        assert abs(approx[0]["score"] - exact["score"]) < 1e-9
    else:
        # approx missed: its score can only be <= the exact best
        assert approx[0]["score"] <= exact["score"] + 1e-9


def test_lsh_signature_shape(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    sigs = emb.select(lsh_signature("embedding").alias("sig")).distinct()
    rows = sigs.collect()
    assert all(len(r["sig"]) == 8 and set(r["sig"]) <= {"0", "1"} for r in rows)
    assert len(rows) > 1  # planes actually split the corpus


def test_batch_search_matches_per_query(spark, sf_dir):
    from floatchat_datapipeline_spark.embeddings.search import (
        semantic_search,
        semantic_search_batch,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    queries = {
        "q1": "spark table scan performance",
        "q2": "window order data column",
        "q3": "vector batch merge",
    }
    batch = semantic_search_batch(docs, queries, k=5)
    got = {
        qid: [(r["doc_id"], r["score"]) for r in rows]
        for qid, rows in (
            (qid, batch.filter(F.col("query_id") == qid).orderBy("rank").collect())
            for qid in queries
        )
    }
    for qid, text in queries.items():
        # batch and single-query must agree exactly — no extra filtering
        # on either side (ADVICE r01: batch used to drop score <= 0 docs)
        want = [
            (r["doc_id"], r["score"])
            for r in semantic_search(docs, text, k=5).collect()
        ]
        assert got[qid] == want, qid


def test_lsh_signature_adapts_to_vector_dim(spark):
    """ADVICE r01: a fixed 64-element hyperplane null-pads 384-d vectors
    and collapses every doc into one bucket. The plane length must follow
    the vector, keeping buckets discriminative at any encoder dim."""
    import random

    rng = random.Random(7)
    rows = [(i, [rng.gauss(0, 1) for _ in range(384)]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    sigs = [
        r["sig"]
        for r in df.select(lsh_signature("embedding").alias("sig")).collect()
    ]
    assert all(len(s) == 8 for s in sigs)
    assert len(set(sigs)) > 1, "384-d vectors collapsed into one bucket"


def test_ivf_recall_vs_exact(spark, sf_dir):
    """VERDICT r01 #5: trained centroids + nprobe=2 must actually buy
    recall — mean recall@5 >= 0.8 against exact cosine top-5."""
    from floatchat_datapipeline_spark.embeddings.search import ann_ivf_topk
    from floatchat_datapipeline_spark.functions.vector import cosine

    emb = load_table(spark, sf_dir, "embeddings")
    recalls = []
    for qid in (1, 2, 3, 4, 5):
        q = emb.filter(F.col("vec_id") == qid).select(
            F.col("embedding").alias("qvec")
        )
        exact = {
            r["vec_id"]
            for r in emb.filter(F.col("vec_id") != qid)
            .crossJoin(F.broadcast(q))
            .select(
                "vec_id",
                F.round(cosine(F.col("embedding"), F.col("qvec")), 6).alias("s"),
            )
            .orderBy(F.desc("s"), "vec_id")
            .limit(5)
            .collect()
        }
        approx = {r["vec_id"] for r in ann_ivf_topk(emb, qid, k=5).collect()}
        recalls.append(len(exact & approx) / 5)
    assert sum(recalls) / len(recalls) >= 0.8, recalls


def test_pq_two_stage_recall_vs_exact(spark, sf_dir):
    """V10: PQ-ADC shortlist + exact re-rank must reach recall@10 >= 0.8
    against exact MIPS (measured ~0.92 on the test corpus)."""
    from floatchat_datapipeline_spark.embeddings.pq import (
        PQ_RERANK,
        pq_adc_topk,
    )
    from floatchat_datapipeline_spark.functions.vector import dot

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    recalls = []
    for qid in (1, 7, 42, 99, 123):
        approx = {
            r["vec_id"]
            for r in pq_adc_topk(
                emb, qid, k=10, rerank=PQ_RERANK, cache_key=f"t#{qid}"
            ).collect()
        }
        q = (
            emb.filter(F.col("vec_id") == qid)
            .select(F.col("embedding").cast("array<double>"))
            .first()[0]
        )
        exact = {
            r["vec_id"]
            for r in emb.filter(F.col("vec_id") != qid)
            .select(
                "vec_id",
                F.round(
                    dot(F.col("embedding").cast("array<double>"), F.lit(q)),
                    6,
                ).alias("s"),
            )
            .orderBy(F.desc("s"), "vec_id")
            .limit(10)
            .collect()
        }
        recalls.append(len(approx & exact) / 10)
    assert sum(recalls) / len(recalls) >= 0.8, recalls


def test_pq_adc_overestimates_track_exact(spark, sf_dir):
    """ADC scores are reconstructions, not bounds — but for the TOP
    candidates they must correlate with the exact score (rank the same
    head), and the codes must be valid codebook indices."""
    from floatchat_datapipeline_spark.embeddings.pq import (
        PQ_KSUB,
        PQ_M,
        pq_codes,
        pq_train,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    books = pq_train(emb, 64, cache_key="t#codes")
    assert len(books) == PQ_M and all(len(b) <= PQ_KSUB for b in books)
    codes = (
        emb.select(
            pq_codes(F.col("embedding").cast("array<double>"), books, 64)
            .alias("c")
        )
        .select(F.explode("c").alias("c"))
        .agg(F.min("c"), F.max("c"))
        .first()
    )
    assert codes[0] >= 0 and codes[1] < PQ_KSUB


def test_pq_warm_query_scans_cached_codes_not_vectors(spark, sf_dir):
    """A warm PQ query must read the persisted codes table (the index),
    not re-run the m-argmax encode tree over the parquet vectors — the
    re-encode was measured at ~7 s/query of pure plan overhead at sf0.1."""
    from floatchat_datapipeline_spark.embeddings import pq
    from floatchat_datapipeline_spark.plans.checks import plan_string

    pq.reset_caches()
    emb = load_table(spark, sf_dir, "embeddings")
    key = f"{sf_dir}/embeddings.parquet#test-warm"
    pq.pq_adc_topk(emb, query_id=1, k=5, cache_key=key, rerank=10).collect()
    warm = pq.pq_adc_topk(emb, query_id=2, k=5, cache_key=key, rerank=10)
    plan = plan_string(warm)
    assert "InMemoryTableScan" in plan, plan
    # the compressed-domain scan must not touch the embedding column
    scan_cols = [
        line for line in plan.splitlines() if "InMemoryTableScan" in line
    ]
    assert not any("embedding" in line for line in scan_cols), scan_cols
    pq.reset_caches()


def test_ivf_warm_query_uses_cached_inverted_lists(spark, sf_dir):
    from floatchat_datapipeline_spark.embeddings import search as s
    from floatchat_datapipeline_spark.plans.checks import plan_string

    s.reset_caches()
    emb = load_table(spark, sf_dir, "embeddings")
    key = f"{sf_dir}/embeddings.parquet#test-warm-ivf"
    s.ann_ivf_topk(emb, query_id=1, k=5, cache_key=key).collect()
    warm = s.ann_ivf_topk(emb, query_id=2, k=5, cache_key=key)
    assert "InMemoryTableScan" in plan_string(warm)
    s.reset_caches()


def test_pq_reset_caches_clears_index(spark, sf_dir):
    from floatchat_datapipeline_spark import memo
    from floatchat_datapipeline_spark.embeddings import pq

    pq.reset_caches()
    emb = load_table(spark, sf_dir, "embeddings")
    key = f"{sf_dir}/embeddings.parquet#test-reset"
    pq.pq_adc_topk(emb, query_id=1, k=5, cache_key=key, rerank=10).collect()
    assert {"pq-codebooks", "pq-codes"} <= {s[0] for s in memo._STORE}
    pq.reset_caches()
    assert not memo._STORE


def test_nearest_centroid_sql_path_matches_column_path(spark, sf_dir):
    """The SQL-text fast path (one F.expr parse) must assign every vector
    to the same centroid as the Column-API tree — bit-for-bit, since both
    build the identical 6dp-rounded argmax expression."""
    from floatchat_datapipeline_spark.embeddings.search import (
        kmeans_centroids,
        nearest_centroid,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents = kmeans_centroids(emb, 8)
    base = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    a = base.select(
        "vec_id", nearest_centroid(F.col("embedding"), cents).alias("c")
    )
    b = base.select(
        "vec_id", nearest_centroid("`embedding`", cents).alias("c")
    )
    assert a.join(b, "vec_id").filter(a["c"] != b["c"]).count() == 0


def test_double_sql_literals_reconstruct_exact_bits(spark):
    """CAST('<repr>' AS DOUBLE) must reproduce the exact binary64 of any
    Python float — the property the SQL-text expression path rests on.
    Checked for adversarial magnitudes (denormals, huge, tiny, negative
    zero) plus 1000 seeded-random doubles, all in one Spark job."""
    import random
    import struct

    from floatchat_datapipeline_spark.embeddings.search import _double_sql

    rng = random.Random(42)
    vals = [
        0.0,
        -0.0,
        1.0,
        -1.0,
        3.141592653589793,
        2.2250738585072014e-308,  # smallest normal
        5e-324,  # smallest denormal
        1.7976931348623157e308,  # largest finite
        1e-300,
        -1e300,
        0.1,
        1 / 3,
    ] + [rng.uniform(-1e6, 1e6) for _ in range(500)] + [
        rng.uniform(-1, 1) * 10 ** rng.randint(-30, 30) for _ in range(500)
    ]
    exprs = ", ".join(_double_sql(v) for v in vals)
    row = spark.sql(f"SELECT array({exprs}) AS a").first()
    got = row["a"]
    assert len(got) == len(vals)
    for v, g in zip(vals, got):
        assert struct.pack("<d", v) == struct.pack("<d", g), (v, g)


def test_mmr_rerank_satisfies_greedy_objective(spark, sf_dir):
    """V12: validate the greedy MMR property against a numpy replay.
    The operator decides on 1e-6-ROUNDED rel/sims (the cross-engine
    parity convention that enables the recursive-CTE DuckDB oracle), so
    the replay's raw-double scores can differ from the operator's by up
    to the rounding granularity; TOL covers rounding (5e-7 per term) +
    fold-order ulps. What must hold: ranks are 1..k per query, picks are
    distinct, rank-1 is the cosine argmax (within tolerance), and every
    pick's MMR score is within TOL of the best remaining candidate at
    its step."""
    from floatchat_datapipeline_spark.operators.similarity import mmr_rerank

    TOL = 2e-6
    emb = load_table(spark, sf_dir, "embeddings")
    got = (
        mmr_rerank(emb, n_queries=3, candidates=15, k=5, lam=0.7)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    assert set(got["query_id"]) == {0, 1, 2}
    assert list(got.groupby("query_id")["rank"].apply(list)) == [[1, 2, 3, 4, 5]] * 3

    rows = emb.select("vec_id", "embedding").toPandas()
    vecs = {
        int(r.vec_id): np.asarray(r.embedding, dtype=np.float64)
        for r in rows.itertuples()
    }

    def unit(v):
        n = np.linalg.norm(v)
        return v / n if n else v

    for qid in (0, 1, 2):
        q = unit(vecs[qid])
        rel = {i: float(unit(v) @ q) for i, v in vecs.items() if i != qid}
        cand = sorted(rel, key=lambda i: (-rel[i], i))[:15]
        got_q = got[got["query_id"] == qid]["doc_id"].tolist()
        got_rel = got[got["query_id"] == qid]["rel"].tolist()
        assert len(set(got_q)) == 5
        # operator's rel agrees with the replay's to tolerance
        for d, r in zip(got_q, got_rel):
            assert abs(rel[d] - r) <= TOL, (qid, d, rel[d], r)
        # rank-1 is the raw cosine argmax (tolerance on the tie boundary)
        assert rel[got_q[0]] >= rel[cand[0]] - TOL
        # pool = replay candidates ∪ operator picks (boundary ulp flips
        # may swap the 15th candidate) — each pick must be greedy-optimal
        pool = sorted(set(cand) | set(got_q))
        for t in range(1, 5):
            sel = got_q[:t]
            remaining = [i for i in pool if i not in sel]

            def score(i):
                pen = max(float(unit(vecs[i]) @ unit(vecs[j])) for j in sel)
                return 0.7 * rel[i] - 0.3 * pen

            best = max(score(i) for i in remaining)
            assert score(got_q[t]) >= best - TOL, (qid, t, got_q[t])


def test_repair_encodes_only_the_null_rows(spark, sf_dir, tmp_path, monkeypatch):
    """repair_embeddings makes one pass over a stored-vector table and
    hands the encoder the text of the rows missing a vector, and only
    that; the other rows keep their stored vector."""
    import pandas as pd

    from floatchat_datapipeline_spark.embeddings import encoder
    from floatchat_datapipeline_spark.embeddings.search import repair_embeddings
    from floatchat_datapipeline_spark.plans.checks import plan_string

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .collect()
    )
    model = get_model()
    vecs = model.encode([r["text"] for r in docs])
    rows = [
        (r["doc_id"], r["text"], None if r["doc_id"] % 13 == 0 else [float(x) for x in v])
        for r, v in zip(docs, vecs)
    ]
    missing = [t for _, t, v in rows if v is None]
    assert 0 < len(missing) < len(rows)
    path = str(tmp_path / "stored")
    spark.createDataFrame(
        rows, "doc_id long, text string, embedding array<double>"
    ).write.parquet(path)

    repaired = repair_embeddings(spark.read.parquet(path))
    plan = plan_string(repaired, mode="simple")
    assert plan.count("FileScan parquet") == 1, plan
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "encode_present_udf(CASE WHEN isnull(embedding" in plan, plan
    got = {r["doc_id"]: r["embedding"] for r in repaired.collect()}
    assert len(got) == len(rows)
    for (doc_id, _, _), want in zip(rows, vecs):
        assert np.allclose(got[doc_id], want), doc_id

    # what the UDF is fed (the CASE above: text where the vector is null)
    # reaches the model for exactly those rows
    seen: list[str] = []

    class Spy:
        def encode(self, texts):
            seen.extend(texts)
            return model.encode(texts)

    monkeypatch.setattr(encoder, "_MODEL", Spy())
    out = encoder.encode_present_udf.func(
        pd.Series([t if v is None else None for _, t, v in rows])
    )
    assert seen == missing
    assert out.notna().sum() == len(missing)
