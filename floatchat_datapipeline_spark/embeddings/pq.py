"""Product quantization (PQ) — compressed-domain ANN scoring.

IVF (embeddings/search.py) prunes WHICH vectors to score; PQ compresses
HOW each vector is scored: split every d-dim vector into `m` subvectors,
learn a tiny codebook per subspace (deterministic spherical k-means by
`train_codebooks`, the one Lloyd trainer, which also trains the IVF
coarse quantizer as its single-subspace case), and store
each vector as `m` small codes. A 64-d float vector (256 B) becomes 4
codes (4 B) — the 64× memory cut that lets a 100 TB corpus' index live
in executor memory instead of being rescanned per query (FAISS IVF-PQ,
Jégou et al. 2011, "Product Quantization for Nearest Neighbor Search").

Query-time scoring is ADC (asymmetric distance computation): the query
stays full-precision; its inner product against every possible code is
precomputed into an m×ksub lookup table (model state, inlined as plan
literals), and each corpus vector's score is just m table lookups + a
sum — no per-row float vector is ever touched. Inner product decomposes
additively across subspaces (dot(q, recon(x)) = Σ_s dot(q_s, c_s[code_s])),
which is why the LUT trick is exact for the reconstruction.

Scale design: training collects only m×ksub×dsub doubles to the driver
(model state, same lifecycle as the IVF centroid cache); encoding is a
pure map-only expression (m `nearest_centroid` argmaxes over literal
matrices); ADC scoring is m `element_at` lookups into literal arrays —
zero joins, zero shuffles until the final top-k, which TakeOrdered
handles. Everything is deterministic (6dp-rounded argmax, lowest-cid
ties), so the full train→encode→score path replays bit-identically in
the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from floatchat_datapipeline_spark import memo
from floatchat_datapipeline_spark.functions.vector import dot

PQ_M = 16
PQ_KSUB = 32
PQ_ITERS = 1
PQ_RERANK = 50


reset_caches = memo.reset  # kept for perfbench, which calls it by name


def pq_train(
    emb: DataFrame,
    dim: int,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    iters: int = PQ_ITERS,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cache_key: str | None = None,
) -> list[list[tuple[int, list[float]]]]:
    """Train the m per-subspace codebooks (`train_codebooks`): subspace s
    is dims [s·dsub, (s+1)·dsub), dsub = dim // m, and its codebook is
    the deterministic spherical k-means of the subvectors — the same
    trainer as `kmeans_centroids`, so each subspace replays with the
    same oracle SQL as the IVF quantizer.

    Returns [codebook_s][cid] -> centroid subvector."""
    return memo.lookup(
        "pq-codebooks",
        cache_key,
        (dim, m, ksub, iters, vec_col, id_col),
        emb,
        lambda: train_codebooks(emb, m, ksub, iters, vec_col, id_col, dim),
    )


def train_codebooks(
    emb: DataFrame,
    m: int,
    ksub: int,
    iters: int,
    vec_col: str,
    id_col: str,
    dim: int | None = None,
) -> list[list[tuple[int, list[float]]]]:
    """Deterministic spherical k-means on each of `m` subspaces, trained
    jointly: PQ's codebooks, and with m = 1 and `dim` None (the whole
    vector is the one subspace) the IVF/SemDedup coarse quantizer of
    `kmeans_centroids`.

    Seeds are the `ksub` lowest-id vectors renumbered 0..ksub-1. Each
    Lloyd iteration assigns every vector in every subspace (`pq_codes`:
    6dp-rounded cosine argmax, lowest-cid ties) and recomputes centroids
    as per-position means `round(sum, 6) / n` — the rounded sum makes the
    value partial-aggregation-order independent, and the quotient stays a
    raw IEEE double because an outer round lands on decimal half
    boundaries (short-decimal sums over integer counts) that Spark and
    DuckDB round in opposite directions. Rows with a null vector take no
    part. Clusters left empty by an iteration drop out, so cids can have
    gaps.

    Plan shape: one seed collect and ONE Spark job per iteration for all
    m subspaces. The assignment is map-only (m argmax expressions), and
    one posexplode over vector positions (subspace = pos div dsub,
    cluster = that subspace's code) feeds a (subspace, cluster, pos)
    mean aggregation, partial-aggregated inside the map stage, so the
    shuffle carries m·ksub·dsub cells per partition, never the exploded
    corpus. The result is collected and re-literalized per iteration: it
    is model state, and cutting the lineage keeps iteration i from
    re-running iterations 1..i-1's corpus passes. Training m codebooks
    sequentially would pay m× the per-job latency for the same
    arithmetic — measured 12 s → <2 s at m=16 on the test corpus.

    Returns [codebook_s][cid] -> centroid subvector, cids ascending."""
    base = emb.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias(vec_col)
    )
    if dim is None:
        spans, vals, sub = [(0, None)], F.col(vec_col), F.lit(0)
    else:
        dsub = dim // m
        spans = [(s * dsub, (s + 1) * dsub) for s in range(m)]
        vals = F.slice(F.col(vec_col), 1, m * dsub)
        sub = F.expr(f"CAST(_pos div {dsub} AS INT)")
    seed_rows = base.orderBy(id_col).limit(ksub).collect()
    books = [
        [
            (i, [float(x) for x in r[vec_col][lo:hi]])
            for i, r in enumerate(seed_rows)
        ]
        for lo, hi in spans
    ]
    for _ in range(iters):
        # persist = a CollapseProject barrier, not (only) a cache: the
        # optimizer otherwise inlines the m-argmax `_codes` expression
        # into the Generate pipeline below and re-evaluates the whole
        # interpreted HOF argmax per EXPLODED row (d times per vector) —
        # measured 13.5 s → 4.7 s per Lloyd pass at sf0.1 from this one
        # barrier.
        assigned = base.select(
            pq_codes(f"`{vec_col}`", books, dim).alias("_codes"),
            F.col(vec_col),
        ).persist()
        cells = (
            assigned.select("_codes", F.posexplode(vals).alias("_pos", "val"))
            .select(
                sub.alias("s"),
                F.element_at("_codes", sub + 1).alias("cluster"),
                "_pos",
                "val",
            )
            .groupBy("s", "cluster", "_pos")
            .agg((F.round(F.sum("val"), 6) / F.count(F.lit(1))).alias("mval"))
            .collect()
        )
        assigned.unpersist()
        new_books: list[dict[int, dict[int, float]]] = [{} for _ in spans]
        for r in cells:
            new_books[r["s"]].setdefault(r["cluster"], {})[r["_pos"]] = r[
                "mval"
            ]
        books = [
            [
                (cid, [poss[p] for p in sorted(poss)])
                for cid, poss in sorted(book.items())
            ]
            for book in new_books
        ]
    return books


def pq_codes(
    vec,
    codebooks: list[list[tuple[int, list[float]]]],
    dim: int | None,
):
    """All m code assignments as one array<int> column: entry s is the
    subvector's nearest codebook-s entry (6dp-rounded cosine argmax,
    lowest-cid ties — exactly `nearest_centroid` on the slice).
    Map-only; each subspace argmax is its own `nearest_centroid`
    expression over its own literal matrix. (A single nested
    m×ksub×dsub literal traversed with transform(sequence(0,m-1)) was
    tried and measured ~2.5× SLOWER end-to-end: nested HOF lambdas
    evaluate interpreted and the un-bound slice subtree re-evaluates
    per codebook entry — wide-but-flat beats deep-and-nested here.)

    `vec` as a STRING is SQL expression text (e.g. a backtick-quoted
    column name) — each subspace argmax is then assembled as one SQL
    string (see nearest_centroid), which is ~10× cheaper to construct
    and analyze than the Column-API tree. A fully FLAT expansion
    (per-centroid explicit dot chains, driver-precomputed centroid
    norms) was also tried: bit-identical, but 3× slower end-to-end —
    the ~15k-node projection pushes Janino codegen from ~1 s to ~15 s,
    dwarfing what it saves in interpreted HOF evaluation. The fold
    form is the measured optimum at these shapes.

    With `dim` None there is one codebook and its subvector is `vec`
    itself: a slice would be re-evaluated inside the argmax's
    per-centroid lambda (measured ~25% slower k-means training at k=45)."""
    from floatchat_datapipeline_spark.embeddings.search import (
        nearest_centroid,
    )

    if dim is None:
        return F.array(nearest_centroid(vec, codebooks[0]))
    m = len(codebooks)
    dsub = dim // m
    if isinstance(vec, str):
        return F.array(
            *[
                nearest_centroid(
                    f"slice({vec}, {s * dsub + 1}, {dsub})", codebooks[s]
                )
                for s in range(m)
            ]
        )
    return F.array(
        *[
            nearest_centroid(
                F.slice(vec, s * dsub + 1, dsub), codebooks[s]
            )
            for s in range(m)
        ]
    )


def pq_index(
    emb: DataFrame,
    dim: int,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    iters: int = PQ_ITERS,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cache_key: str | None = None,
):
    """Build (or fetch) the full PQ index for a corpus: trained codebooks
    PLUS the encoded corpus as a persisted (id, _code0.._code{m-1})
    DataFrame. Encoding pays the m-argmax expression once per corpus at
    build time; after that, every query's scan touches only the tiny
    codes table — never the float vectors and never the m-argmax tree
    (whose Catalyst analysis alone costs seconds at m=16, ksub=32).

    Returns (codebooks, codes_df)."""
    from floatchat_datapipeline_spark.embeddings.search import (
        nearest_centroid,
    )

    books = pq_train(
        emb, dim, m, ksub, iters, vec_col, id_col, cache_key=cache_key
    )
    dsub = dim // m

    def encode() -> DataFrame:
        base = emb.select(
            F.col(id_col), F.col(vec_col).cast("array<double>").alias(vec_col)
        )
        return base.select(
            id_col,
            *[
                nearest_centroid(
                    f"slice(`{vec_col}`, {s * dsub + 1}, {dsub})", books[s]
                ).alias(f"_code{s}")
                for s in range(m)
            ],
        )

    # The encoded corpus is the other half of the index (FAISS
    # `index.add`): ~m bytes/row, persisted once per corpus version.
    coded = (
        memo.lookup(
            "pq-codes",
            cache_key,
            (dim, m, ksub, iters, vec_col, id_col),
            emb,
            lambda: memo.persisted(encode()),
        )
        if cache_key
        else encode()
    )
    return books, coded


def pq_adc_topk(
    emb: DataFrame,
    query_id: int,
    k: int = 10,
    dim: int = 64,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    iters: int = PQ_ITERS,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cache_key: str | None = None,
    rerank: int = 0,
) -> DataFrame:
    """Top-k by PQ-ADC inner product, with the exact inner product
    alongside as the compression-error audit. With `rerank` > 0, the
    standard two-stage shape: ADC shortlists `rerank` candidates from
    codes alone (compressed-domain scan), then the exact inner product
    re-ranks just the shortlist — at 100 TB the full-precision vectors
    are fetched for ~50 rows instead of the corpus.

    The LUT entry for (subspace s, code c) is dot(q_s, codebook_s[c])
    computed driver-side with the same left-fold order as the engines
    (pure +/× — IEEE-identical everywhere, unlike transcendentals), then
    6dp-rounded INSIDE the plan so both engines round the same double
    the same way. Output: (vec_id, adc_score, exact_score).

    Warm-path shape: the scan runs over the persisted codes table
    (pq_index) with a plan of m element_at lookups — the m-argmax encode
    tree is never rebuilt per query — and the exact inner product is
    computed ONLY for the shortlist (a broadcast semi-join fetches those
    `rerank` full-precision vectors), never for the whole corpus. That is
    the two-stage IVF-PQ query exactly as run at 100 TB: compressed-domain
    scan, then ~50 vector fetches."""
    books, coded = pq_index(
        emb, dim, m, ksub, iters, vec_col, id_col, cache_key=cache_key
    )
    dsub = dim // m
    q_row = (
        emb.filter(F.col(id_col) == query_id)
        .select(F.col(vec_col).cast("array<double>").alias("_q"))
        .first()
    )
    q = [float(x) for x in q_row["_q"]]
    luts = []
    for s in range(m):
        qs = q[s * dsub : (s + 1) * dsub]
        # The LUT is indexed by CODE VALUE (element_at at code+1), and
        # codes are the surviving cluster ids — which have GAPS when a
        # Lloyd iteration empties a cluster (tiny/degenerate corpora; a
        # positional list would read the wrong slot or run off the end).
        # Place each entry at its cid; gap slots hold 0.0 and are never
        # addressed because codes only take surviving cids.
        by_cid: dict[int, float] = {}
        for cid, cvec in books[s]:
            acc = 0.0
            for a, b in zip(qs, cvec):
                acc = acc + a * b
            by_cid[int(cid)] = acc
        lut = [by_cid.get(i, 0.0) for i in range(max(by_cid) + 1)]
        luts.append(lut)
    # Codes as SEPARATE columns, ADC as an explicit left-assoc sum of
    # per-subspace LUT hits (same association order as the oracle's
    # l0.w + l1.w + ...). A codes ARRAY referenced from inside an
    # aggregate-HOF fold was measured ~2.5× slower: the fold references
    # the array once per step and CollapseProject inlines the whole
    # m-argmax array into every step — m² argmax evaluations per row.
    terms = [
        F.round(F.element_at(F.lit(luts[s]), F.col(f"_code{s}") + 1), 6)
        for s in range(m)
    ]
    adc = terms[0]
    for t in terms[1:]:
        adc = adc + t
    scored = coded.filter(F.col(id_col) != query_id).select(
        id_col, F.round(adc, 6).alias("adc_score")
    )
    vecs = emb.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v")
    )
    shortlist = scored.orderBy(F.desc("adc_score"), id_col).limit(
        rerank if rerank > 0 else k
    )
    with_exact = (
        vecs.join(F.broadcast(shortlist), id_col)
        .select(
            id_col,
            "adc_score",
            F.round(dot(F.col("_v"), F.lit(q)), 6).alias("exact_score"),
        )
    )
    if rerank > 0:
        return with_exact.orderBy(F.desc("exact_score"), id_col).limit(k)
    return with_exact.orderBy(F.desc("adc_score"), id_col).limit(k)
