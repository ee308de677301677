"""The benchmark workloads.

Each workload generates its inputs from the seed, builds its one-time state
in ``setup`` (timed, repeated), and then runs ``op`` in a closed loop with
one client until the run's time is up. An op is the workload's unit of
user-visible work: one bulk job, one query, one landed batch made
queryable. Output checks are made outside the timers.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time

import numpy as np
from pyspark.sql import functions as F
from pyspark.sql.types import _parse_datatype_string

from floatchat_datapipeline_spark.api import FloatChatEngine
from floatchat_datapipeline_spark.embeddings import pq as pq_index
from floatchat_datapipeline_spark.embeddings import search
from floatchat_datapipeline_spark.embeddings.encoder import STUB_DIM, encode_text
from floatchat_datapipeline_spark.functions.text import float_summary_v2
from floatchat_datapipeline_spark.operators import dedup
from floatchat_datapipeline_spark.operators.aggregate import float_metadata_agg, global_stats
from floatchat_datapipeline_spark.operators.cleaning import clean_argo
from floatchat_datapipeline_spark.operators.reshape import melt_profiles_eav, profile_key
from floatchat_datapipeline_spark.sinks.upsert import upsert
from floatchat_datapipeline_spark.sources.netcdf import read_argo
from floatchat_datapipeline_spark.streaming.ingest import ingest_landing_to_table

from perfbench import gen
from perfbench.measure import Tracer, median, percentile

SCORE_TOL = 2e-6  # program scores are rounded to 6 places
NEAR_DUP_RECALL = 0.9  # planted near-dup pairs LSH must find; expected ~0.98


def stub_vectors(texts: list[str]) -> np.ndarray:
    """The stub encoder's documented contract, restated: one md5 bucket
    (first 15 hex digits mod 64) per space-separated token, L2-normalized."""
    out = np.zeros((len(texts), STUB_DIM))
    for i, t in enumerate(texts):
        for tok in t.split(" "):
            out[i, int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % STUB_DIM] += 1.0
    norms = np.linalg.norm(out, axis=1, keepdims=True)
    return out / np.where(norms == 0, 1.0, norms)


def check_topk(got: list[tuple], ids: list, scores: np.ndarray, k: int) -> str | None:
    """`got` = [(id, score)] from the program; `ids`/`scores` = the
    brute-force cosine of every eligible doc. None when `got` is a valid
    top-k: right length, eligible ids, matching scores, nothing better left out."""
    want = min(k, len(ids))
    if len(got) != want:
        return f"{len(got)} results, expected {want}"
    pos = {d: i for i, d in enumerate(ids)}
    for d, s in got:
        if d not in pos:
            return f"result {d!r} fails the pre-filter"
        if s is None or abs(s - scores[pos[d]]) > SCORE_TOL:
            return f"score of {d!r} is {s}, brute force {scores[pos[d]]:.6f}"
    if any(a[1] < b[1] for a, b in zip(got, got[1:])):
        return "scores not ranked"
    chosen = {g[0] for g in got}
    left = [scores[pos[d]] for d in ids if d not in chosen]
    if left and max(left) > got[-1][1] + SCORE_TOL:
        return f"missed a doc scoring {max(left):.6f} > {got[-1][1]}"
    return None


def components(pairs: set[tuple[int, int]]) -> dict[int, int]:
    """Union-find over candidate pairs: node -> smallest node it reaches."""
    parent: dict[int, int] = {}

    def root(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = root(a), root(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {x: root(x) for x in parent}


def with_profile_key(df):
    """Measurement rows carry no profile id; key profiles by float + time."""
    return profile_key(df.withColumn("profile_id", F.lit(None).cast("string")))


def gold_floats(tr: Tracer, silver):
    """aggregate -> summary text -> encoder: the gold floats with embeddings."""
    with tr.span("aggregate"):
        agg = tr.boundary(float_metadata_agg(silver), "aggregate.groups_out")
    with tr.span("text.summary"):
        cols = {c: F.col(c) for c in agg.columns}
        docs = tr.boundary(agg.withColumn("document", float_summary_v2(cols)))
    with tr.span("encoder"):
        return tr.boundary(docs.withColumn("embedding", encode_text("document")))


def dir_bytes_files(path: str) -> tuple[int, int]:
    size = files = 0
    for dp, _, fs in os.walk(path):
        for f in fs:
            if f.endswith(".parquet"):
                size += os.path.getsize(os.path.join(dp, f))
                files += 1
    return size, files


def reset_program_caches(spark) -> None:
    """Drop the program's memoized corpus state, so every run and every
    setup does the same work."""
    search.reset_caches()
    pq_index.reset_caches()
    dedup.clear_dup_components_cache()
    spark.catalog.clearCache()


class Workload:
    OP_CYCLE = 1  # a run's op count is a multiple of this, so every run has the same mix

    def __init__(self, spark, work_dir: str, seed: int, tracer: Tracer):
        self.spark = spark
        self.work = work_dir
        self.seed = seed
        self.tr = tracer
        self.checks = 0
        self.failures: list[str] = []

    def check(self, ok: bool, message: str) -> None:
        self.checks += 1
        if not ok:
            self.failures.append(message)

    def generate(self) -> None:
        """Write the seeded inputs (untimed)."""

    def setup(self) -> None:
        """Reset state and build the one-time structures (timed, repeated)."""

    def prime(self) -> None:
        """Warm-up work after setup, so the op's plans are compiled before
        timing; its results are not checked."""

    def op(self, i: int) -> dict:
        """One unit of work: {"latency_s", "items", ...}."""
        raise NotImplementedError

    def check_op(self, rec: dict) -> None:
        """Checks of one op's outputs, made right after it (untimed)."""

    def finish(self) -> None:
        """Final output checks (untimed)."""

    def layer_metrics(self, ops: list[dict], udf_rows: float) -> dict[str, float]:
        return {}

    def traced_stage(self) -> dict[str, float]:
        """Extra per-layer work measured only in the traced run, after the loop."""
        return {}

    def per_op(self, name: str, n: int, scale: float = 1.0) -> float:
        src = self.tr.seconds if name in self.tr.seconds else self.tr.counts
        return src.get(name, 0.0) * scale / n if n else 0.0


class IngestBulk(Workload):
    """The bulk job: profile files -> read_argo -> clean_argo -> silver EAV
    parquet + gold floats parquet. The traced run adds a corpus-dedup stage
    after the loop (see ``traced_stage``)."""

    N_FILES = 80  # x 8 profiles x 50 levels = 32,000 rows
    OP_CYCLE = 3
    PRIME_PASSES = 3  # after two, the next pass still costs ~8% more CPU
    N_DOCS = 1_500
    WARM_DOCS = 100
    DEDUP_PASSES = 3

    def generate(self):
        self.inp = os.path.join(self.work, "in")
        self.warm_inp = os.path.join(self.work, "warm_in")
        self.out = os.path.join(self.work, "out")
        self.data = gen.profile_files(self.seed, self.N_FILES)
        self.data.write(self.inp)
        # prime runs on other input of the same shape and size
        gen.profile_files(self.seed + 1_000_003, self.N_FILES).write(self.warm_inp)

    def _pipeline(self, inp: str) -> None:
        tr = self.tr
        with tr.span("netcdf.decode"):
            raw = tr.boundary(read_argo(self.spark, inp), "netcdf.rows_out")
        with tr.span("cleaning"):
            silver = tr.boundary(with_profile_key(clean_argo(raw)), "cleaning.rows_out")
        with tr.span("reshape.melt"):
            eav = tr.boundary(melt_profiles_eav(silver), "reshape.rows_out")
        gold = gold_floats(tr, silver)
        with tr.span("write"):
            eav.write.mode("overwrite").parquet(os.path.join(self.out, "silver_eav"))
            gold.write.mode("overwrite").parquet(os.path.join(self.out, "gold_floats"))
        tr.release()

    def prime(self):
        for _ in range(self.PRIME_PASSES):
            self._pipeline(self.warm_inp)

    def setup(self):
        reset_program_caches(self.spark)
        shutil.rmtree(self.out, ignore_errors=True)

    def op(self, i):
        t0 = time.perf_counter()
        self._pipeline(self.inp)
        dt = time.perf_counter() - t0
        self.tr.add("netcdf.files", self.N_FILES)
        self.tr.add("netcdf.bytes_in", self.data.bytes_in)
        self.tr.add("cleaning.rows_in", self.data.raw_rows)
        return {"latency_s": dt, "items": self.data.raw_rows}

    def finish(self):
        read = self.spark.read.parquet
        silver = read(os.path.join(self.out, "silver_eav")).count()
        gold = read(os.path.join(self.out, "gold_floats")).count()
        self.check(silver == self.data.silver_rows,
                   f"silver EAV rows {silver}, expected {self.data.silver_rows}")
        self.check(gold == self.data.gold_floats,
                   f"gold floats {gold}, expected {self.data.gold_floats}")

    def layer_metrics(self, ops, udf_rows):
        n = len(ops)
        m = {name: self.per_op(name, n) for name in (
            "netcdf.files", "netcdf.bytes_in", "netcdf.rows_out", "cleaning.rows_in",
            "cleaning.rows_out", "reshape.rows_out", "aggregate.groups_out")}
        for metric, span in (
            ("netcdf.decode_s", "netcdf.decode"), ("cleaning.s", "cleaning"),
            ("reshape.melt_s", "reshape.melt"), ("aggregate.s", "aggregate"),
            ("text.summary_s", "text.summary"), ("encoder.s", "encoder"), ("write.s", "write"),
        ):
            m[metric] = self.per_op(span, n)
        if m["cleaning.rows_in"]:
            m["cleaning.kept_ratio"] = m["cleaning.rows_out"] / m["cleaning.rows_in"]
        return m

    # -- corpus dedup, traced run only ---------------------------------------

    def traced_stage(self) -> dict[str, float]:
        """Exact dedup, MinHash-LSH pairs and duplicate components over a
        seeded corpus with planted duplicates: one cold pass, then
        DEDUP_PASSES timed passes, each checked. Per pass, medians."""
        corpus = gen.dedup_corpus(self.seed, self.N_DOCS)
        path = os.path.join(self.work, "docs.parquet")
        warm = os.path.join(self.work, "warm_docs.parquet")
        gen.write_parquet(corpus.table, path)
        gen.write_parquet(gen.dedup_corpus(self.seed + 1_000_003, self.WARM_DOCS).table, warm)
        self._dedup(warm)
        passes = []
        for _ in range(self.DEDUP_PASSES):
            passes.append(self._dedup(path))
            self._check_dedup(corpus, *passes[-1][1])
        times = {k: median([p[0][k] for p in passes]) for k in passes[0][0]}
        pairs = passes[-1][1][1]
        return {
            "dedup.exact_s": times["exact"],
            "dedup.signature_s": times["signature"],
            "dedup.pairs_s": times["pairs"],
            "dedup.components_s": times["components"],
            "dedup.candidate_pairs": float(len(pairs)),
            "dedup.true_pair_ratio": len(pairs & corpus.near_pairs) / max(1, len(pairs)),
            "dedup.docs_per_s": self.N_DOCS / (times["exact"] + times["pairs"] + times["components"]),
        }

    def _dedup(self, path: str) -> tuple[dict[str, float], tuple]:
        """One pass; the signature stage is also timed alone, since
        minhash_lsh_pairs builds signatures internally."""
        spark = self.spark
        docs = spark.read.parquet(path)
        t0 = time.perf_counter()
        exact = [(r.keeper_id, r.n_dups) for r in dedup.exact_dedup_groups(docs).collect()]
        t1 = time.perf_counter()
        dedup.lsh_band_keys(docs).count()
        t2 = time.perf_counter()
        pairs = {(r.id_a, r.id_b) for r in dedup.minhash_lsh_pairs(docs, spark).collect()}
        t3 = time.perf_counter()
        comp = {r.doc_id: r.component for r in dedup.dup_components(docs, spark).collect()}
        t4 = time.perf_counter()
        t = {"exact": t1 - t0, "signature": t2 - t1, "pairs": t3 - t2, "components": t4 - t3}
        return t, (exact, pairs, comp)

    def _check_dedup(self, corpus, exact, pairs, comp) -> None:
        groups = corpus.exact_groups
        want = {(k, len(ids)) for k, ids in groups.items()}
        want_rows = self.N_DOCS - sum(len(ids) - 1 for ids in groups.values())
        got = {(k, n) for k, n in exact if n > 1}
        self.check(got == want and len(exact) == want_rows,
                   f"exact dedup: {len(got)} groups of {len(exact)}, expected {len(want)} of {want_rows}")
        recall = len(pairs & corpus.near_pairs) / len(corpus.near_pairs)
        self.check(recall >= NEAR_DUP_RECALL, f"near-dup recall {recall:.3f} < {NEAR_DUP_RECALL}")
        self.check(comp == components(pairs),
                   f"dup components: {len(comp)} docs, expected {len(components(pairs))}")


class SearchServe(Workload):
    """One client, closed loop: semantic, structured and ANN queries."""

    N_ORDERS = 6_000  # ~24k lineitem rows over 1,000 suppliers (= floats)
    N_VECTORS = 1_000
    N_QUERIES = 4_000  # stream length; a run uses a prefix
    OP_CYCLE = len(gen.QUERY_PATTERN)
    K = 5
    ANN_K = 5

    def generate(self):
        self.sf_dir = os.path.join(self.work, "sf")
        table, self.expected_floats = gen.lineitem_table(self.seed, self.N_ORDERS)
        gen.write_parquet(table, os.path.join(self.sf_dir, "lineitem.parquet"))
        self.emb_path = os.path.join(self.work, "embeddings.parquet")
        emb = gen.embedding_table(self.seed, self.N_VECTORS)
        gen.write_parquet(emb, self.emb_path)
        self.vectors = np.array(emb.column("embedding").to_pylist(), dtype="float64")
        self.queries = gen.query_stream(self.seed, self.N_QUERIES, self.N_VECTORS)
        self.results: list[tuple[dict, list]] = []
        self.ivf_train_s: list[float] = []

    def setup(self):
        reset_program_caches(self.spark)
        self.engine = FloatChatEngine(self.spark, self.sf_dir)
        self.engine.summaries.count()  # the gold views
        self.emb = self.spark.read.parquet(self.emb_path)
        t0 = time.perf_counter()
        search.kmeans_centroids(self.emb, cache_key=self.emb_path)
        self.ivf_train_s.append(time.perf_counter() - t0)
        self._ann(0).collect()  # the IVF index

    def prime(self):
        warm = gen.query_stream(self.seed + 1_000_003, len(gen.QUERY_PATTERN), self.N_VECTORS)
        for q in warm:
            self._run(q)

    def _ann(self, qid: int):
        return search.ann_ivf_topk(self.emb, qid, k=self.ANN_K, cache_key=self.emb_path)

    def _structured(self, q):
        e, a = self.engine, q["args"]
        h = q["helper"]
        if h in ("geo_box", "exclude_region"):
            return getattr(e, h)(tuple(a["lat"]), tuple(a["lon"]))
        if h == "time_range":
            return e.time_range(a["start"], a["end"])
        if h == "measurement_range":
            return e.measurement_range(a["var"], a["lo"], a["hi"])
        if h == "extremes":
            return e.extremes(a["var"], a["k"], a["coldest"])
        if h == "depth_query":
            return e.depth_query(a["min_pressure"])
        return e.multi_param(**{v: tuple(r) for v, r in a["ranges"].items()})

    def _run(self, q) -> list[dict]:
        kind = q["kind"]
        layer = {"semantic": "search", "structured": "api", "ann": "ivf"}[kind]
        with self.tr.span(f"{layer}.plan"):
            if kind == "semantic":
                w = q["where"]
                where = None if w is None else _where_col(w)
                df = self.engine.semantic_search(q["text"], k=self.K, where=where)
            elif kind == "structured":
                df = self._structured(q)
            else:
                df = self._ann(q["query_id"])
        with self.tr.span(f"{layer}.exec"):
            return [r.asDict() for r in df.collect()]

    def op(self, i):
        q = self.queries[i % len(self.queries)]
        t0 = time.perf_counter()
        rows = self._run(q)
        dt = time.perf_counter() - t0
        self.results.append((q, rows))
        return {"latency_s": dt, "items": 1, "kind": q["kind"], "query_id": q.get("query_id")}

    def finish(self):
        floats = self.engine.floats.toPandas()
        docs = self.engine.summaries.toPandas().merge(floats, on="float_id")
        self.check(len(floats) == self.expected_floats,
                   f"{len(floats)} gold floats, expected {self.expected_floats}")
        doc_vecs = stub_vectors(docs["document"].tolist())
        for q, rows in self.results:
            if q["kind"] == "semantic":
                mask = np.ones(len(docs), bool) if q["where"] is None else _where_mask(docs, q["where"]).to_numpy()
                qvec = stub_vectors([q["text"]])[0]
                scores = np.round(doc_vecs[mask] @ qvec, 6)
                err = check_topk([(r["float_id"], r["score"]) for r in rows],
                                 docs["float_id"][mask].tolist(), scores, self.K)
                self.check(err is None, f"semantic {q['text']!r} {q['where']}: {err}")
            elif q["kind"] == "ann":
                self._check_ann(q, rows)
            else:
                want = _structured_expected(floats, q)
                got = [r["float_id"] for r in rows]
                if q["helper"] != "extremes":
                    got, want = sorted(got), sorted(want)
                self.check(got == want, f"{q['helper']} {q['args']}: {len(got)} rows, expected {len(want)}")

    def _check_ann(self, q, rows):
        qid = q["query_id"]
        v = self.vectors
        cos = np.round(v @ v[qid] / (np.linalg.norm(v, axis=1) * np.linalg.norm(v[qid])), 6)
        scores = [r["score"] for r in rows]
        ok = (
            len(rows) == self.ANN_K
            and all(r["vec_id"] != qid for r in rows)
            and all(abs(r["score"] - cos[r["vec_id"]]) <= SCORE_TOL for r in rows)
            and scores == sorted(scores, reverse=True)
        )
        self.check(ok, f"ann {qid}: {rows}")

    def layer_metrics(self, ops, udf_rows):
        by = {k: [o for o in ops if o["kind"] == k] for k in ("semantic", "structured", "ann")}
        ns, nst, na = (len(by[k]) for k in ("semantic", "structured", "ann"))
        m = {
            "search.plan_ms": self.per_op("search.plan", ns, 1e3),
            "search.exec_ms": self.per_op("search.exec", ns, 1e3),
            "api.plan_ms": self.per_op("api.plan", nst, 1e3),
            "api.exec_ms": self.per_op("api.exec", nst, 1e3),
            "ivf.probe_ms": (self.per_op("ivf.plan", na, 1e3) + self.per_op("ivf.exec", na, 1e3)),
            "ivf.train_s": median(self.ivf_train_s),
            "query.samples": float(len(ops)),
        }
        lat = [o["latency_s"] * 1e3 for o in ops]
        m["query_p50_ms"] = percentile(lat, 50)
        m["query_p90_ms"] = percentile(lat, 90)
        for k in ("semantic", "structured", "ann"):
            m[f"{k}_p50_ms"] = percentile([o["latency_s"] * 1e3 for o in by[k]], 50)
        if ns:
            m["encoder.texts_per_query"] = udf_rows / ns
            m["search.rows_scored_per_result"] = udf_rows / ns / self.K
        if na:
            m["ivf.candidates_per_result"] = self._ivf_candidates(by["ann"]) / self.ANN_K
        return m

    def _ivf_candidates(self, ann_ops) -> float:
        """Mean rows re-ranked per ANN query: the sizes of the `nprobe`
        clusters nearest the query, from the trained centroids."""
        cents = search.kmeans_centroids(self.emb, cache_key=self.emb_path)
        c = np.array([v for _, v in cents])
        v = self.vectors

        def cos(a, b):
            return np.round(a @ b.T / np.outer(np.linalg.norm(a, axis=1), np.linalg.norm(b, axis=1)), 6)

        sims = cos(v, c)
        assign = np.argmax(sims, axis=1)  # ties -> lowest cid, as the program breaks them
        sizes = np.bincount(assign, minlength=len(c))
        total = 0
        for o in ann_ops:
            qid = o["query_id"]
            probe = np.lexsort((np.arange(len(c)), -sims[qid]))[: search.IVF_NPROBE]
            total += sizes[probe].sum() - 1
        return total / len(ann_ops)


def _where_col(w):
    col, op, v = w
    return F.col(col) >= v if op == ">=" else F.col(col) <= v


def _where_mask(df, w):
    col, op, v = w
    return df[col] >= v if op == ">=" else df[col] <= v


def _structured_expected(f, q) -> list:
    import pandas as pd

    a, h = q["args"], q["helper"]
    if h in ("geo_box", "exclude_region"):
        (la, lb), (oa, ob) = a["lat"], a["lon"]
        hit = (f.lat_max >= la) & (f.lat_min <= lb) & (f.lon_max >= oa) & (f.lon_min <= ob)
        mask = hit if h == "geo_box" else ~hit
    elif h == "time_range":
        mask = (f.end_date >= pd.Timestamp(a["start"])) & (f.deploy_date <= pd.Timestamp(a["end"]))
    elif h == "measurement_range":
        mask = (f[f"{a['var']}_max"] >= a["lo"]) & (f[f"{a['var']}_min"] <= a["hi"])
    elif h == "extremes":
        col = f"{a['var']}_min" if a["coldest"] else f"{a['var']}_max"
        ranked = f.sort_values(
            [col, "float_id"], ascending=[a["coldest"], True],
            na_position="first" if a["coldest"] else "last", kind="mergesort",
        )
        return ranked["float_id"].head(a["k"]).tolist()
    elif h == "depth_query":
        mask = f.pressure_max >= a["min_pressure"]
    else:
        (t_lo, _), (_, s_hi) = a["ranges"]["temperature"], a["ranges"]["salinity"]
        mask = (f.temperature_max >= t_lo) & (f.salinity_min <= s_hi)
    return f.loc[mask, "float_id"].tolist()


class UpsertMixed(Workload):
    """Land a JSON batch, stream it into the silver table, refresh gold for
    the touched floats, then read what was just committed."""

    N_FLOATS = 120
    PROFILES_PER_FLOAT = 10
    N_LEV = 20
    BATCH_PROFILES = 40
    READS_PER_CYCLE = 2
    K = 5
    OP_CYCLE = 2

    def generate(self):
        self.stream = gen.LandingStream(self.seed, self.N_FLOATS, self.PROFILES_PER_FLOAT,
                                        self.N_LEV, self.BATCH_PROFILES)
        self.schema = _parse_datatype_string(gen.LANDING_SCHEMA)
        self.texts = [t for grp in gen.CORPUS.values() for t in grp]
        self.silver = os.path.join(self.work, "silver")
        self.gold = os.path.join(self.work, "gold")
        self.landing = os.path.join(self.work, "landing")
        self.ckpt = os.path.join(self.work, "ckpt")
        self.batches = 0  # batches landed after the seed table

    def _transform(self, df):
        with self.tr.span("cleaning"):
            self.tr.add("cleaning.rows_in", df.count() if self.tr.enabled else 0)
            out = self.tr.boundary(clean_argo(df), "cleaning.rows_out")
        self._transformed_at = time.perf_counter()
        return out

    def _ingest(self):
        with self.tr.span("streaming.batch"):
            ingest_landing_to_table(self.spark, self.landing, self.silver, self.ckpt,
                                    self.schema, gen.KEYS, transform=self._transform)
        if self.tr.enabled:
            # the program merges right after the transform returns
            self.tr.seconds["silver_merge"] += time.perf_counter() - self._transformed_at

    def _refresh_gold(self, touched: set[str] | None):
        silver = self.spark.read.parquet(self.silver)
        if touched is not None:
            silver = silver.filter(F.col("float_id").isin(sorted(touched)))
        gold = gold_floats(self.tr, with_profile_key(silver))
        with self.tr.span("upsert"):
            upsert(gold, self.gold, ("float_id",))
        self.tr.release()

    def _land(self, name: str, records: list[dict]) -> int:
        data = gen.jsonl(records)
        tmp = os.path.join(self.work, name + ".tmp")
        with open(tmp, "wb") as f:
            f.write(data)
        os.replace(tmp, os.path.join(self.landing, name))
        return len(data)

    def setup(self):
        reset_program_caches(self.spark)
        for d in (self.silver, self.gold, self.landing, self.ckpt):
            shutil.rmtree(d, ignore_errors=True)
        os.makedirs(self.landing)
        self._land("batch_00000.json", self.stream.initial)
        self._ingest()  # the seed table
        self._refresh_gold(None)

    def prime(self):
        self.op(0)  # one landed batch and its reads: the first runs ~15% slower

    def op(self, i):
        self.batches += 1
        records, touched = self.stream.batch(self.batches)
        nbytes = self._land(f"batch_{self.batches:05d}.json", records)
        t0 = time.perf_counter()
        self._ingest()
        self._refresh_gold(touched)
        commit = time.perf_counter() - t0
        reads, read_times = self._reads(self.batches)
        if self.tr.enabled:
            silver_bytes, silver_files = dir_bytes_files(self.silver)
            gold_bytes, _ = dir_bytes_files(self.gold)
            self.tr.add("upsert.bytes_written", silver_bytes + gold_bytes)
            self.tr.add("upsert.batch_bytes", nbytes)
            self.tr.add("upsert.table_files", silver_files)
        return {"latency_s": commit, "items": len(records), "reads_s": read_times, "reads": reads}

    def _reads(self, i: int) -> tuple[list[tuple], list[float]]:
        """Alternate a semantic search over gold and global stats over silver."""
        reads, times = [], []
        for j in range(self.READS_PER_CYCLE):
            t0 = time.perf_counter()
            if j % 2 == 0:
                text = self.texts[(i * self.READS_PER_CYCLE + j) % len(self.texts)]
                docs = self.spark.read.parquet(self.gold)
                rows = [(r.float_id, r.score) for r in search.semantic_search(
                    docs, text, k=self.K, text_col="document", id_col="float_id").collect()]
                reads.append(("semantic", text, rows))
            else:
                silver = with_profile_key(self.spark.read.parquet(self.silver))
                reads.append(("stats", None, global_stats(silver).collect()[0].asDict()))
            times.append(time.perf_counter() - t0)
        return reads, times

    def check_op(self, rec):
        """Reads must see the batch just committed."""
        state = self.stream.state
        gold = self.spark.read.parquet(self.gold).select("float_id", "document").toPandas()
        n_floats = len({k[0] for k in state})
        self.check(len(gold) == n_floats, f"gold has {len(gold)} floats, expected {n_floats}")
        vecs = stub_vectors(gold["document"].tolist())
        for kind, text, rows in rec["reads"]:
            if kind == "semantic":
                scores = np.round(vecs @ stub_vectors([text])[0], 6)
                err = check_topk(rows, gold["float_id"].tolist(), scores, self.K)
                self.check(err is None, f"upsert read {text!r}: {err}")
            else:
                want_t = sum(r["temperature"] is not None for r in state.values())
                self.check(rows["temperature_count"] == want_t and rows["salinity_count"] == len(state),
                           f"stats read counts {rows['temperature_count']}/{rows['salinity_count']}, "
                           f"expected {want_t}/{len(state)}")

    def finish(self):
        got = self.spark.read.parquet(self.silver).select(
            "float_id", F.date_format("time", "yyyy-MM-dd'T'HH:mm:ss").alias("time"), "level",
            "latitude", "longitude", "pressure", "temperature", "salinity").collect()
        table = {(r.float_id, r.time, r.level): r.asDict() for r in got}
        self.check(len(table) == len(got), "silver table has duplicate keys")
        want = self.stream.state
        bad = [k for k, v in want.items() if table.get(k) != v]
        self.check(len(table) == len(want) and not bad,
                   f"silver table: {len(table)} keys, expected {len(want)}; {len(bad)} differ")

    def layer_metrics(self, ops, udf_rows):
        n = len(ops)
        silver_merge = self.per_op("silver_merge", n)
        m = {name: self.per_op(name, n) for name in (
            "cleaning.rows_in", "cleaning.rows_out", "aggregate.groups_out",
            "upsert.bytes_written", "upsert.table_files")}
        m.update({
            "cleaning.s": self.per_op("cleaning", n),
            "aggregate.s": self.per_op("aggregate", n),
            "text.summary_s": self.per_op("text.summary", n),
            "encoder.s": self.per_op("encoder", n),
            "streaming.batch_s": self.per_op("streaming.batch", n) - self.per_op("cleaning", n) - silver_merge,
            "upsert.s": self.per_op("upsert", n) + silver_merge,
        })
        if m["cleaning.rows_in"]:
            m["cleaning.kept_ratio"] = m["cleaning.rows_out"] / m["cleaning.rows_in"]
        batch = self.per_op("upsert.batch_bytes", n)
        if batch:
            m["upsert.write_amp"] = m["upsert.bytes_written"] / batch
        reads = [r * 1e3 for o in ops for r in o["reads_s"]]
        m["query_p50_ms"] = percentile(reads, 50)
        m["query_p90_ms"] = percentile(reads, 90)
        m["query.samples"] = float(len(reads))
        m["commit_p50_ms"] = percentile([o["latency_s"] * 1e3 for o in ops], 50)
        return m


WORKLOADS = {
    "ingest_bulk": IngestBulk,
    "search_serve": SearchServe,
    "upsert_mixed": UpsertMixed,
}
