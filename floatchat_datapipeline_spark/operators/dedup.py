"""Deduplication operators — exact, MinHash+LSH, SimHash, n-gram Jaccard.

North-star LLM-pipeline operators (BASELINE.json): each is a composition
of built-in DataFrame ops (explode → hash → groupBy → self-join), no UDFs,
so the plans shuffle on content-derived keys and scale by adding executors.

Scale design:
- exact dedup: one hash-groupBy shuffle on md5(text) — the canonical
  100 TB dedup (hash is computed map-side; only (hash, min_id) shuffles
  after partial aggregation).
- MinHash/LSH: signature build is a narrow explode+agg per doc; the LSH
  band join buckets candidates so the pair join is |bucket|² not |corpus|²
  — the standard web-scale near-dup pipeline (shingle→minhash→band→join).
- SimHash: linear in corpus size; near-dup = hamming distance on 48-bit
  keys, here surfaced as exact-key grouping (distance-0 buckets).
- n-gram Jaccard: exact pair similarity via inverted-index self-join on
  shingles — the verification stage downstream of LSH candidates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from floatchat_datapipeline_spark import memo
from floatchat_datapipeline_spark.functions.textstats import (
    content_hash,
    md5_long,
    tokens,
    word_shingles,
)
from floatchat_datapipeline_spark.plans.scale import rebalance

N_MINHASH = 16
LSH_BAND_SIZE = 4
SIMHASH_BITS = 48

# Skew guards: a band key or shingle shared by more than this many docs is
# degenerate (a stop-phrase shingle, an all-identical band) and would fan
# out quadratically in the pair generators. Far above any true near-dup
# group at test scale (corpus = 500 docs, so the caps never bind there and
# oracle parity is unaffected); at 100 TB they bound both the per-key
# collect_list and the pair explosion. Mega-clusters past the cap are
# still found transitively through their sub-buckets / rarer shingles.
LSH_MAX_BUCKET = 4096
NGRAM_MAX_DOC_FREQ = 4096


def _cap_key_frequency(df: DataFrame, key_cols: list[str], cap: int | None) -> DataFrame:
    """Drop rows whose key occurs once (no pair possible) or more than
    `cap` times (degenerate key). Window count over the key partitions the
    data exactly as the downstream groupBy(key) does, so Catalyst inserts
    ONE exchange for both — the guard costs a sort, not a shuffle."""
    w = Window.partitionBy(*key_cols)
    freq = F.count(F.lit(1)).over(w)
    cond = freq > 1 if cap is None else (freq > 1) & (freq <= F.lit(cap))
    return df.withColumn("_kf", cond).filter(F.col("_kf")).drop("_kf")

# Universal-hash family for MinHash: h_i(x) = (a_i·(md5(x) mod P) + b_i) mod P.
# ONE md5 per shingle, then n cheap affine maps — the textbook construction;
# the naive alternative (md5 per (shingle, seed)) costs n× the hashing and
# an n-way row fan-out before the first aggregate. P is a 30-bit prime so
# a_i·base stays far below 2^63 (no overflow in either engine).
MINHASH_P = 1073741789


def _affine(base, seed: int):
    a, b = 2 * seed + 1, 97 * seed + 13
    return (F.lit(a) * base + F.lit(b)) % F.lit(MINHASH_P)


def exact_dedup_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact duplicate groups: md5(normalized text) → keeper (min id) +
    group size. Downstream, keep rows joining on (hash, keeper)."""
    h = content_hash(F.lower(F.trim(F.col(text_col))))
    return (
        df.select(F.col(id_col), h.alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def _minhash_wide(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_hashes: int,
    balance: bool = True,
) -> DataFrame:
    """Wide signature: one row per doc with columns h0..h{n-1}.

    Plan shape: MAP-ONLY. The shingle set and its per-shingle base
    hashes are array expressions; each h_s is an array_min over an
    affine remap of the shared `_bases` array (higher-order transform,
    evaluated inside whole-stage codegen). No explode, no aggregate, no
    shuffle beyond the input rebalance — the signature is computed
    where the text already sits, which at 100 TB removes the former
    per-doc partial-state exchange entirely. The `_bases` projection is
    referenced n times, so CollapseProject keeps it materialized per
    row: ONE md5 per shingle, n cheap affine traversals.

    Docs with an empty shingle set (< 3 words) are dropped, matching
    the previous explode semantics (explode emits no row for an empty
    array).
    """
    shingles = F.array_distinct(word_shingles(text_col, 3))
    slim = df.select(id_col, text_col)
    # streaming callers skip the rebalance probe (file-width estimation
    # reads batch scan metadata; micro-batch width is the source's call)
    with_bases = (
        (rebalance(slim) if balance else slim)
        .select(
            F.col(id_col),
            F.transform(
                shingles, lambda t: md5_long(t) % F.lit(MINHASH_P)
            ).alias("_bases"),
        )
        .filter(F.size("_bases") > 0)
    )
    def h(s: int):
        # NOTE: the lambda must take exactly ONE parameter — transform
        # passes a second argument as the ARRAY INDEX, which would shadow
        # the seed. transform() invokes the lambda synchronously, so
        # closing over the loop variable is safe.
        return F.array_min(
            F.transform("_bases", lambda b: _affine(b, s))
        ).alias(f"h{s}")

    return with_bases.select(
        F.col(id_col), *[h(s) for s in range(n_hashes)]
    )


def minhash_signatures(
    df: DataFrame,
    spark: SparkSession,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = N_MINHASH,
) -> DataFrame:
    """MinHash signature in long form: (doc_id, seed, minhash) — the min
    over the doc's 3-word-shingle set of the affine hash family above.

    Shingles (not bare tokens) are the unit: corpora with a shared
    vocabulary make token-set Jaccard uninformative (measured 0.63 mean on
    the test corpus), while shingle Jaccard separates true near-dups
    (p99 = 0.025 vs 0.99 for actual duplicates).
    """
    wide = _minhash_wide(df, text_col, id_col, n_hashes)
    stack_expr = ", ".join(f"{s}, h{s}" for s in range(n_hashes))
    return wide.select(
        F.col(id_col),
        F.expr(
            f"stack({n_hashes}, {stack_expr}) as (seed, minhash)"
        ),
    ).select(id_col, F.col("seed").cast("int"), "minhash")


def lsh_band_keys(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = N_MINHASH,
    band_size: int = LSH_BAND_SIZE,
    balance: bool = True,
) -> DataFrame:
    """(id, band, band_key) rows — band key = md5 of the ordered minhash
    concat, computed straight off the WIDE signature row (h0..h15 are
    already columns), so there is no regroup-by-band shuffle. Map-only;
    works on batch and STREAMING frames alike (pass balance=False on a
    stream — the rebalance probe reads batch scan metadata)."""
    wide = _minhash_wide(df, text_col, id_col, n_hashes, balance=balance)
    n_bands = n_hashes // band_size
    band_entries = [
        F.struct(
            F.lit(band).alias("band"),
            F.md5(
                F.concat_ws(
                    ",",
                    *[
                        F.col(f"h{band * band_size + j}").cast("string")
                        for j in range(band_size)
                    ],
                )
            ).alias("band_key"),
        )
        for band in range(n_bands)
    ]
    return wide.select(
        F.col(id_col), F.explode(F.array(*band_entries)).alias("bk")
    ).select(
        id_col,
        F.col("bk.band").alias("band"),
        F.col("bk.band_key").alias("band_key"),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    spark: SparkSession,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = N_MINHASH,
    band_size: int = LSH_BAND_SIZE,
    max_bucket_size: int | None = LSH_MAX_BUCKET,
) -> DataFrame:
    """LSH candidate pairs: docs agreeing on ALL hashes of any band.

    bands = n_hashes / band_size; band key = md5 of the ordered minhash
    concat. The join runs per (band, key) bucket — at corpus scale the
    shuffle is by band key, never a cross join.

    Band keys are computed straight off the WIDE signature row (h0..h15
    are already columns), so there is no regroup-by-band shuffle at all:
    signature build is the only wide aggregation before the bucket join.

    `max_bucket_size` is the skew guard: buckets past the cap are
    degenerate band keys (e.g. a boilerplate phrase dominating the corpus)
    and are dropped BEFORE the collect_list, so per-bucket state and the
    pair explosion both stay bounded at any corpus size.
    """
    keys = lsh_band_keys(df, text_col, id_col, n_hashes, band_size)
    # Pair generation via bucket-grouping, NOT a self-join: joining `keys`
    # with itself would execute the whole signature pipeline twice (Spark
    # reuses exchanges only for canonically-identical subtrees, which
    # aliased self-join branches are not). Grouping docs per bucket and
    # exploding ordered pairs reads the signatures once; the frequency
    # guard drops singleton AND degenerate buckets before anything is
    # collected, so bucket state is bounded by construction.
    buckets = (
        _cap_key_frequency(keys, ["band", "band_key"], max_bucket_size)
        .groupBy("band", "band_key")
        .agg(F.sort_array(F.collect_list(F.col(id_col))).alias("ids"))
    )
    return (
        buckets.select(F.explode("ids").alias("id_a"), F.col("ids"))
        .select("id_a", F.explode("ids").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .distinct()
    )


def simhash(
    df: DataFrame,
    spark: SparkSession,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_bits: int = SIMHASH_BITS,
) -> DataFrame:
    """SimHash per doc: sign of the per-bit sum of token-hash bits
    (frequency-weighted by token multiplicity). Output (doc_id, simhash
    BIGINT).

    Plan shape: MAP-ONLY, like `_minhash_wide`. One aggregate() fold
    over the token-hash array carries a 48-long bit-sum accumulator
    (zip_with against a literal powers-of-two array; bit test is
    bitwiseAND — exact on the 60-bit positive hashes, equivalent to the
    oracle's `(h div 2^b) % 2`), then one zip_with+fold turns the sign
    vector into the fingerprint. No explode, no groupBy, no shuffle —
    the former shape shuffled a 48-column partial-state row per doc.
    Docs with no tokens are dropped (explode parity)."""
    powers = F.array(*[F.lit(1 << b).cast("long") for b in range(n_bits)])
    zero = F.array_repeat(F.lit(0).cast("long"), n_bits)
    hashes = F.transform(tokens(text_col), lambda t: md5_long(t))
    bit_sums = F.aggregate(
        F.col("_hashes"),
        zero,
        lambda acc, h: F.zip_with(
            acc,
            powers,
            lambda a, p: a
            + F.when(h.bitwiseAND(p) != 0, F.lit(1)).otherwise(F.lit(-1)),
        ),
    )
    fingerprint = F.aggregate(
        F.zip_with(
            F.col("_sums"),
            powers,
            lambda s, p: F.when(s > 0, p).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    return (
        rebalance(df.select(id_col, text_col))
        .select(F.col(id_col), hashes.alias("_hashes"))
        .filter(F.size("_hashes") > 0)
        .select(F.col(id_col), bit_sums.alias("_sums"))
        .select(F.col(id_col), fingerprint.cast("bigint").alias("simhash"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.05,
    max_doc_freq: int | None = NGRAM_MAX_DOC_FREQ,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs sharing ≥1 shingle —
    inverted-index self-join (shuffle by shingle), intersection counts,
    |A∪B| = |A|+|B|−|A∩B|. Output pairs over the threshold.

    Skew guard: shingles with doc-frequency above `max_doc_freq` (stop
    phrases) are dropped before pair generation — they fan out
    quadratically yet carry no dedup signal. Union sizes still use the
    full shingle sets, so a capped shingle only UNDER-counts the
    intersection (jaccard is a lower bound for pairs sharing it); at test
    scale the cap never binds and results are exact.
    """
    base = rebalance(df.select(id_col, text_col))
    # join key = 60-bit hash of the shingle, not the string: shuffle bytes
    # drop ~4× and the posting-list groupBy compares fixed-width ints.
    # Collision odds at 2^60 are ~|shingles|²/2^61 — immaterial for dedup.
    sh = base.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.array_distinct(word_shingles(text_col, shingle_n)),
                lambda s: md5_long(s),
            )
        ).alias("shingle"),
    )
    # Per-doc shingle-set sizes come straight off the doc row (narrow, no
    # explode/shuffle) — the exploded view is only needed for intersections.
    sizes = base.select(
        F.col(id_col),
        F.size(F.array_distinct(word_shingles(text_col, shingle_n))).alias("n_sh"),
    )
    # Intersection counts via posting-list grouping rather than an
    # inverted-index self-join: the self-join would recompute the explode
    # subtree for both branches. The frequency guard bounds every posting
    # list at max_doc_freq (and drops df=1 shingles, which pair with
    # nothing) before any list is materialized.
    inter = (
        _cap_key_frequency(sh, ["shingle"], max_doc_freq)
        .groupBy("shingle")
        .agg(F.sort_array(F.collect_list(F.col(id_col))).alias("ids"))
        .select(F.explode("ids").alias("id_a"), F.col("ids"))
        .select("id_a", F.explode("ids").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sz_a = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sz_b = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sz_a, "id_a")
        .join(sz_b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


SEGMENT_TOKENS = 10
SEGMENT_MAX_DOC_FREQ = 1


def segment_dedup(
    docs: DataFrame,
    seg_tokens: int = SEGMENT_TOKENS,
    max_doc_freq: int = SEGMENT_MAX_DOC_FREQ,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sub-document (segment-level) exact dedup — the MassiveText /
    Falcon "line dedup" step, generalized to fixed-width token segments
    because the test corpus has no newlines: split every document into
    consecutive `seg_tokens`-token segments, drop every segment whose
    64-bit content hash appears in more than `max_doc_freq` documents,
    and reassemble the survivors in order.

    Output: one row per input doc —
    (id_col, clean_text, n_kept, n_dropped).

    Scale design (the reason this is shaped unlike doc-level dedup):
    - Segmentation is map-only: the token array is bound ONCE per row
      (CollapseProject keeps the projection boundary for the non-cheap
      multi-referenced split), segments come from one
      posexplode(transform(sequence)) — no joins, no shuffle.
    - The duplicated-segment set is computed with ONE partial-aggregated
      groupBy on the 60-bit segment hash and then filtered to df >
      max_doc_freq. That set is the corpus' repeated boilerplate — tiny
      relative to the corpus (the same asymmetry ngram_decontaminate
      exploits for its eval set), so it BROADCASTS and the corpus-side
      segment stream is pruned with a map-side anti-join: the full
      segment set itself is never shuffled by content.
    - Reassembly shuffles by doc id once (groupBy + ordered array_join);
      per-doc state is bounded by document length, not corpus size.
    Skew: a boilerplate segment shared by millions of docs makes one
    BIG count cell (fine — partial agg) but never a fan-out: this
    operator drops hot segments instead of pairing them.
    """
    k = seg_tokens
    base = docs.select(
        F.col(id_col),
        tokens(text_col).alias("_toks"),
    ).select(
        id_col,
        "_toks",
        ((F.size("_toks") + (k - 1)).cast("long") / k).cast("long").alias("_n_segs"),
    )
    segs = base.select(
        id_col,
        "_n_segs",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.col("_n_segs") - 1),
                lambda i: F.array_join(
                    F.slice(F.col("_toks"), i * k + 1, k), " "
                ),
            )
        ).alias("pos", "seg"),
    ).withColumn("_h", md5_long("seg"))
    dup_segments = (
        segs.groupBy("_h")
        .agg(F.countDistinct(id_col).alias("_df"))
        .filter(F.col("_df") > max_doc_freq)
        .select("_h")
    )
    kept = segs.join(F.broadcast(dup_segments), "_h", "left_anti")
    reassembled = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "seg"))),
                lambda s: s["seg"],
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    return (
        base.select(id_col, "_n_segs")
        .join(reassembled, id_col, "left")
        .select(
            id_col,
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            (F.col("_n_segs") - F.coalesce("n_kept", F.lit(0)))
            .cast("long")
            .alias("n_dropped"),
        )
    )


clear_dup_components_cache = memo.reset  # kept for perfbench


def dup_components(
    docs: DataFrame,
    spark,
    cache_key: str | None = None,
) -> DataFrame:
    """MinHash-LSH candidate pairs → connected components, memoized per
    corpus. Returns (doc_id, component) for every doc in some duplicate
    group; docs in no group are absent (consumers coalesce to their own
    id). With `cache_key` (typically the corpus path) the persisted
    mapping is reused across queries until the corpus changes.

    Three production queries (dup clusters, dedup apply, leakage-safe
    split) consume this closure: it is corpus state, not query state, and
    at 100 TB an iterative multi-job pipeline not to be re-run per query.
    """
    from floatchat_datapipeline_spark.operators.clusters import (
        connected_components,
    )

    def closure() -> DataFrame:
        return connected_components(minhash_lsh_pairs(docs, spark)).select(
            F.col("node").alias("doc_id"), "component"
        )

    if not cache_key:
        return closure()
    return memo.lookup(
        "dup-components", cache_key, (), docs, lambda: memo.persisted(closure())
    )


WINNOW_MAX_DOC_FREQ = 32


def winnow_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
    min_shared: int = 2,
    max_doc_freq: int | None = WINNOW_MAX_DOC_FREQ,
) -> DataFrame:
    """MOSS-style match candidates: document pairs sharing ≥ `min_shared`
    winnowed fingerprints (functions/textstats.winnow — every shared
    token run of ≥ k + w − 1 tokens is guaranteed to contribute one).
    Compared to ngram_jaccard_pairs this probes ~2/(w+1) of the shingle
    hashes, so the inverted index is ~2.5× smaller for the same k.

    Same scale guards as the n-gram index: posting lists materialize only
    after `_cap_key_frequency` bounds them (boilerplate fingerprints fan
    out quadratically and carry no match signal), and the pair count is
    a partial-aggregable groupBy over capped-width lists."""
    from floatchat_datapipeline_spark.functions.textstats import winnow

    base = rebalance(df.select(id_col, text_col))
    fps = base.select(
        F.col(id_col), F.explode(winnow(text_col, k, w)).alias("fp")
    )
    return (
        _cap_key_frequency(fps, ["fp"], max_doc_freq)
        .groupBy("fp")
        .agg(F.sort_array(F.collect_list(F.col(id_col))).alias("ids"))
        .select(F.explode("ids").alias("id_a"), F.col("ids"))
        .select("id_a", F.explode("ids").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def source_minhash_overlap(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    n_hashes: int = N_MINHASH,
) -> DataFrame:
    """L18 — corpus-level MinHash overlap: estimate the shingle-set
    Jaccard similarity BETWEEN SOURCES (not documents) — "how much do
    crawl dump A and dump B overlap?", the question a 100 TB curation
    pipeline answers before deciding which sources to keep, down-weight,
    or cross-deduplicate.

    The corpus signature needs no new machinery: min is associative, so
    each source's minhash per seed is the min over its rows' per-row
    signatures — `_minhash_wide` keyed by `group_col` (map-only,
    whole-stage codegen), then ONE partial-aggregable groupBy down to
    n_sources × n_hashes cells. The pair stage joins that tiny
    signature table to itself (broadcast, n_sources² rows at most) and
    counts agreeing seeds: J_est = n_match / n_hashes — an exact k/16
    double in both engines. At 100 TB the only data-sized pass is the
    map-only signature scan; everything after is constant-sized.
    """
    wide = _minhash_wide(df, text_col, group_col, n_hashes)
    sig = wide.groupBy(group_col).agg(
        *[F.min(f"h{s}").alias(f"h{s}") for s in range(n_hashes)]
    )
    a = sig.select(
        F.col(group_col).alias("source_a"),
        *[F.col(f"h{s}").alias(f"a{s}") for s in range(n_hashes)],
    )
    b = sig.select(
        F.col(group_col).alias("source_b"),
        *[F.col(f"h{s}").alias(f"b{s}") for s in range(n_hashes)],
    )
    n_match = sum(
        (F.col(f"a{s}") == F.col(f"b{s}")).cast("long")
        for s in range(n_hashes)
    )
    return (
        a.join(F.broadcast(b), F.col("source_a") < F.col("source_b"))
        .select(
            "source_a",
            "source_b",
            n_match.alias("n_match"),
            (n_match.cast("double") / F.lit(float(n_hashes))).alias(
                "jaccard_est"
            ),
        )
        .orderBy(F.desc("n_match"), "source_a", "source_b")
    )


PPJOIN_TAU_NUM = 1
PPJOIN_TAU_DEN = 2


def ppjoin_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    tau_num: int = PPJOIN_TAU_NUM,
    tau_den: int = PPJOIN_TAU_DEN,
) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering (the
    AllPairs/PPJoin family — Bayardo et al., WWW'07; Xiao et al.,
    WWW'08): every pair with shingle-set Jaccard >= tau_num/tau_den,
    with NO false negatives (unlike LSH) and without indexing every
    shingle (unlike ngram_jaccard_pairs' full inverted index).

    The reference's closest behavior is the exact-match sync diff
    (sync_supabase_to_chromadb.py:87-115); this is the scale path a
    training-corpus pipeline actually needs for high-threshold near-dup
    mining.

    How the scale math works: order each doc's shingles by ascending
    global document frequency (rarest first; ties broken by the hash so
    the order is total and engine-independent). If |A ∩ B| / |A ∪ B| >=
    tau then any (1 - tau)-fraction "prefix" of A in that order must
    intersect B's prefix — so only the first n - ceil(tau*n) + 1
    shingles of each doc are indexed for candidate generation. At
    tau = 1/2 that halves the index; at tau = 0.9 only ~10% of each
    doc's shingles enter the join, and they are by construction its
    RAREST shingles, so posting lists stay short and the quadratic
    blow-up of stop-phrase shingles never happens. Candidates then pass
    the size filter (tau*|A| <= |B| <= |A|/tau, exact integer
    cross-multiplication) before ONE verification join over the full
    token sets computes exact intersections for surviving pairs only.

    Every threshold comparison is integer (n_inter * tau_den >=
    tau_num * (n_a + n_b - n_inter)), so there is no float-boundary
    drift against the oracle; the reported jaccard is the usual 1e-6
    rounded double. Prefix filtering is LOSSLESS: the output is
    identical to the full O(n^2) exact join, which is exactly what the
    DuckDB oracle computes (the driver hash proves losslessness, not
    just plausibility).
    """
    base = rebalance(df.select(id_col, text_col))
    sh = base.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.array_distinct(word_shingles(text_col, shingle_n)),
                lambda s: md5_long(s),
            )
        ).alias("tok"),
    )
    # The exploded (id, tok) view feeds FOUR consumers (the df-count
    # rollup, the prefix ranking, and both sides of the verification
    # join), and its lineage — split + shingle + one md5 per shingle —
    # is the operator's per-row hot loop; un-materialized, that loop
    # runs four times over the corpus. Checkpoint the narrow 16 B/row
    # frame once (r14 A/B at sf0.1: three saved md5 passes ≈ 1.6 s vs
    # ~1.1 s materialization; the saving scales with corpus size, the
    # materialization with the shingle-set size). Re-measured cold at
    # sf0.1 on a 4-core host, five rounds of min-of-3 (tools/ab_probe.sh):
    # median 7.02 s without the checkpoint, 6.29 s with it; won 3 of 5.
    sh = sh.localCheckpoint(eager=True)
    # Global df per shingle — the prefix-ordering statistic. One extra
    # pass over the exploded view; partial-aggregated map-side.
    dfreq = sh.groupBy("tok").agg(F.count(F.lit(1)).alias("df_c"))
    w_cnt = Window.partitionBy(id_col)
    w_ord = w_cnt.orderBy("df_c", "tok")
    ranked = (
        sh.join(dfreq, "tok")
        .withColumn("n_sh", F.count(F.lit(1)).over(w_cnt))
        .withColumn("r", F.row_number().over(w_ord))
    )
    # prefix length p = n - ceil(tau*n) + 1, all-integer ceil.
    prefix = ranked.filter(
        F.col("r")
        <= F.col("n_sh")
        - F.expr(f"(n_sh * {tau_num} + {tau_den - 1}) div {tau_den}")
        + 1
    ).select(id_col, "tok", "n_sh")
    a = prefix.select(
        F.col(id_col).alias("id_a"), "tok", F.col("n_sh").alias("n_a")
    )
    b = prefix.select(
        F.col(id_col).alias("id_b"), "tok", F.col("n_sh").alias("n_b")
    )
    cand = (
        a.join(b, "tok")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            # size filter: Jaccard >= tau forces tau*|A| <= |B| and
            # tau*|B| <= |A| (integer cross-multiplied).
            & (F.col("n_a") * tau_den >= F.col("n_b") * tau_num)
            & (F.col("n_b") * tau_den >= F.col("n_a") * tau_num)
        )
        .select("id_a", "id_b", "n_a", "n_b")
        .distinct()
    )
    # Verification: exact intersection over the FULL token sets, but
    # only for candidate pairs — two key-equi joins, output-bounded.
    inter = (
        cand.select("id_a", "id_b")
        .join(sh.select(F.col(id_col).alias("id_a"), "tok"), "id_a")
        .join(sh.select(F.col(id_col).alias("id_b"), "tok"), ["id_b", "tok"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    union_sz = F.col("n_a") + F.col("n_b") - F.col("n_inter")
    return (
        inter.join(cand, ["id_a", "id_b"])
        .filter(F.col("n_inter") * tau_den >= tau_num * union_sz)
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("n_inter").cast("double") / union_sz.cast("double"), 6
            ).alias("jaccard"),
        )
    )
