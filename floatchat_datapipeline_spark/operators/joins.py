"""Join operators — existence anti-join, fuzzy containment theta join.

J1: the reference checks float existence row-by-row (SELECT 1 ... LIMIT 1
per float, db_handler.py:326-344 driven from main.py:265-297) — O(N) round
trips. Set-at-a-time form: one left_anti join, broadcast when the existing-
keys side is a dim.

J2: the reference's fuzzy id match is a Python nested loop over
(ChromaDB docs × Supabase floats) with mutual-containment predicate and
first-match-wins (update_chromadb_measurements.py:181-237). Containment
defeats hash joins, so the physical strategy is a broadcast nested-loop —
correct and cheap while one side is dim-sized (guard rail: require the
build side to be small enough to broadcast). First-match is made
deterministic with an explicit min() tie-break instead of loop order
(SURVEY.md §7.4.4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from floatchat_datapipeline_spark import memo
from floatchat_datapipeline_spark.operators.cleaning import clean_float_id


def anti_join_new_keys(
    new_df: DataFrame, existing_df: DataFrame, key: str = "float_id"
) -> DataFrame:
    """J1/D2 — rows of `new_df` whose key is absent from `existing_df`.
    The existing side is broadcast (dim-sized in the reference: the floats
    table); no shuffle of the fact side."""
    return new_df.join(
        F.broadcast(existing_df.select(key).distinct()), key, "left_anti"
    )


def fuzzy_id_join(
    docs: DataFrame,
    floats: DataFrame,
    doc_id_col: str = "doc_float_id",
    float_id_col: str = "float_id",
) -> DataFrame:
    """J2 — containment theta join: match after cleaning if ids are equal
    or either contains the other; first match wins deterministically
    (min float_id per doc, replacing the reference's loop-order tie-break).

    Physical plan: BroadcastNestedLoopJoin with `floats` as the build side.
    """
    d = docs.withColumn("_clean_doc_id", clean_float_id(doc_id_col))
    f = floats.select(
        clean_float_id(float_id_col).alias("_clean_float_id")
    ).distinct()
    cond = (
        (F.col("_clean_doc_id") == F.col("_clean_float_id"))
        | F.col("_clean_doc_id").contains(F.col("_clean_float_id"))
        | F.col("_clean_float_id").contains(F.col("_clean_doc_id"))
    )
    matched = d.join(F.broadcast(f), cond, "left")
    return (
        matched.groupBy(doc_id_col, "_clean_doc_id")
        .agg(F.min("_clean_float_id").alias("matched_float_id"))
        .withColumnRenamed("_clean_doc_id", "clean_doc_id")
    )


def unmatched_both_sides(
    docs: DataFrame,
    floats: DataFrame,
    doc_id_col: str = "doc_float_id",
    float_id_col: str = "float_id",
) -> DataFrame:
    """D3 — ids unmatched in each direction after the fuzzy join
    (reference update_chromadb_measurements.py:196-231 reports both).
    Output: (id, side) rows; side ∈ {'docs','floats'}."""
    m = fuzzy_id_join(docs, floats, doc_id_col, float_id_col)
    unmatched_docs = (
        m.filter(F.col("matched_float_id").isNull())
        .select(F.col("clean_doc_id").alias("id"))
        .withColumn("side", F.lit("docs"))
    )
    matched_floats = m.filter(F.col("matched_float_id").isNotNull()).select(
        F.col("matched_float_id").alias("_mf")
    )
    unmatched_floats = (
        floats.select(clean_float_id(float_id_col).alias("id"))
        .distinct()
        .join(
            F.broadcast(matched_floats.distinct()),
            F.col("id") == F.col("_mf"),
            "left_anti",
        )
        .withColumn("side", F.lit("floats"))
    )
    return unmatched_docs.unionByName(unmatched_floats).distinct()


def diff_both(
    a: DataFrame, b: DataFrame, key: str = "float_id"
) -> DataFrame:
    """D3 — symmetric set difference with provenance (reference
    update_chromadb_measurements.py:196-231 reports unmatched ids on BOTH
    sides after its fuzzy sync). Output: (key, side) where side marks
    which input is missing the key. Two anti-joins unioned — each is one
    broadcast/shuffle hash join; no full outer join materialization."""
    only_a = a.select(key).distinct().join(
        b.select(key).distinct(), key, "left_anti"
    ).withColumn("side", F.lit("only_a"))
    only_b = b.select(key).distinct().join(
        a.select(key).distinct(), key, "left_anti"
    ).withColumn("side", F.lit("only_b"))
    return only_a.unionByName(only_b)


BLOOM_JOIN_BITS = 1 << 17  # 131,072 bits = 2,048 packed longs (~16 KB)
BLOOM_JOIN_HASHES = 5


def _bloom_join_positions(col, k: int = BLOOM_JOIN_HASHES, m: int = BLOOM_JOIN_BITS):
    # Kirsch–Mitzenmacher double hashing: two independent xxhash64 seeds
    # generate all k positions. Both hashes reduce mod m BEFORE the
    # affine combine — xxhash64 spans the full signed-long range, so
    # i*h2 on the raw hash overflows under ANSI arithmetic; reduced
    # operands keep every intermediate below k·m ≪ 2^63.
    h1 = F.pmod(F.xxhash64(col), F.lit(m))
    h2 = F.pmod(F.xxhash64(F.lit("bloom-join"), col), F.lit(m))
    return [F.pmod(h1 + F.lit(i) * h2, F.lit(m)) for i in range(k)]


_INTEGRAL_TYPES = {"tinyint", "smallint", "int", "bigint"}


def _bloom_hash_col(df: DataFrame, key: str):
    """Column used for bloom hashing. xxhash64 is TYPE-SENSITIVE: the
    same value hashes differently as int vs bigint, so a type mismatch
    between build and probe sides would produce silent FALSE NEGATIVES
    (dropped true-match rows). Normalize every integral key to bigint so
    int-vs-bigint call sites hash identically; other types must match
    exactly (enforced in bloom_semi_join)."""
    if df.schema[key].dataType.simpleString() in _INTEGRAL_TYPES:
        return F.col(key).cast("bigint")
    return F.col(key)


def bloom_semi_join(
    fact: DataFrame,
    keys: DataFrame,
    fact_key: str,
    keys_key: str,
    cache_key: str | None = None,
) -> DataFrame:
    """Semi-join for the regime where the build side's ROWS are too big
    to broadcast but its KEY SET fits a bloom filter: pack the distinct
    keys into a ~16 KB bit array (the decontam bloom recipe — explode to
    bit positions, one bounded bit_or aggregation, collect ≤ m/64
    longs), probe the fact MAP-ONLY with k bit tests riding as a long-
    array literal, then run the exact LEFT SEMI join on the survivors to
    remove false positives. The result is therefore IDENTICAL to the
    plain semi-join (the oracle is the plain SQL), while the fact rows
    entering the exact join's shuffle shrink to true-matches + the bloom
    false-positive rate — at 100 TB that prefilter is the difference
    between shuffling the whole fact and shuffling the selectivity.
    This is the manual, composable form of Spark's runtime bloom-join
    filter (spark.sql.optimizer.runtimeFilter.bloomFilter.*), usable
    where the optimizer won't inject one (non-equi gates, pre-aggregated
    build sides, reuse of the packed filter across calls).
    """
    m, k = BLOOM_JOIN_BITS, BLOOM_JOIN_HASHES
    fact_t = fact.schema[fact_key].dataType.simpleString()
    keys_t = keys.schema[keys_key].dataType.simpleString()
    if fact_t != keys_t and not (
        fact_t in _INTEGRAL_TYPES and keys_t in _INTEGRAL_TYPES
    ):
        raise ValueError(
            f"bloom_semi_join key types must hash identically: "
            f"{fact_key}:{fact_t} vs {keys_key}:{keys_t}"
        )
    key_set = keys.select(_bloom_hash_col(keys, keys_key).alias("_k")).distinct()
    # The packed filter is fixed-size model state (2,048 longs), same
    # lifecycle as the ANN codebooks: build once per corpus, reuse across
    # calls. cache_key opts in — and carries a FINGERPRINT of the key set
    # (distinct count + xor of key hashes, one cheap partial-aggregable
    # scan) so a regenerated build side at the same cache_key rebuilds
    # the filter instead of silently false-negating against stale bits.
    fp = tuple(
        key_set.agg(
            F.count(F.lit(1)), F.coalesce(F.expr("bit_xor(xxhash64(_k))"), F.lit(0))
        ).first()
    )

    def pack() -> list[int]:
        pos = (
            key_set.select(
                F.explode(
                    F.array(*_bloom_join_positions(F.col("_k")))
                ).alias("p")
            )
            .distinct()
            .groupBy(F.expr("CAST(p div 64 AS INT)").alias("w"))
            .agg(
                F.expr(
                    "bit_or(shiftleft(1L, CAST(p % 64 AS INT)))"
                ).alias("bits")
            )
            .collect()
        )
        words = [0] * (m // 64)
        for r in pos:
            words[r["w"]] = r["bits"]
        return words

    words = memo.lookup("bloom-filter", cache_key, (fp,), keys, pack)

    # Carry the packed filter as a broadcast 1-row relation, NOT an
    # array literal: the k bit tests would each inline their own copy of
    # a 2,048-literal CreateArray into the plan (~10k expression nodes),
    # which measured 2.5× slower end-to-end at sf0.1 purely in
    # analysis/codegen; as a crossJoin(broadcast) column the array
    # appears once and the tests are cheap references.
    spark = fact.sparkSession
    bf = spark.createDataFrame([(words,)], "bf: array<bigint>")
    probe = None
    for p in _bloom_join_positions(_bloom_hash_col(fact, fact_key)):
        test = (
            F.bit_get(
                F.element_at(F.col("bf"), (p / 64).cast("int") + 1),
                (p % 64).cast("int"),
            )
            == 1
        )
        probe = test if probe is None else (probe & test)
    prefiltered = fact.crossJoin(F.broadcast(bf)).filter(probe).drop("bf")
    return prefiltered.join(
        key_set, prefiltered[fact_key] == key_set["_k"], "left_semi"
    )
