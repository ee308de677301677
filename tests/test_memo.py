"""The memo store (floatchat_datapipeline_spark/memo.py): one slot per
(name, cache_key, params, applicationId), one value per version of the
input frame.

The stale-read tests publish a table with the keyed upsert sink, warm a
memoized call on it, upsert again and re-read: the same call with the same
`cache_key` must then equal the call without one. Each also checks that
the upsert changed the answer, so a stale value cannot pass by accident.
"""

from __future__ import annotations

import ast
import subprocess
import sys
import textwrap
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from floatchat_datapipeline_spark import memo
from floatchat_datapipeline_spark.catalog import load_table
from floatchat_datapipeline_spark.sinks.upsert import upsert

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "floatchat_datapipeline_spark"


@pytest.fixture(autouse=True)
def _empty_store():
    memo.reset()
    yield
    memo.reset()


def _publish(spark, sf_dir, tmp_path, table, key):
    path = str(tmp_path / table)
    src = load_table(spark, sf_dir, table)
    upsert(src, path, (key,))
    return src, path


def _negated(emb, ids):
    return emb.filter(F.col("vec_id").isin(ids)).withColumn(
        "embedding", F.transform("embedding", lambda x: -x)
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_kmeans_centroids_see_upsert(spark, sf_dir, tmp_path):
    from floatchat_datapipeline_spark.embeddings.search import kmeans_centroids

    src, path = _publish(spark, sf_dir, tmp_path, "embeddings", "vec_id")
    before = kmeans_centroids(spark.read.parquet(path), cache_key=path)
    # the lowest ids seed the k-means, so negating them moves every centroid
    upsert(_negated(src, list(range(40))), path, ("vec_id",))
    after = spark.read.parquet(path)
    fresh = kmeans_centroids(after)
    assert fresh != before
    assert kmeans_centroids(after, cache_key=path) == fresh


def test_ann_ivf_topk_sees_upsert(spark, sf_dir, tmp_path):
    from floatchat_datapipeline_spark.embeddings.search import ann_ivf_topk

    src, path = _publish(spark, sf_dir, tmp_path, "embeddings", "vec_id")
    before = _rows(ann_ivf_topk(spark.read.parquet(path), 7, cache_key=path))
    upsert(_negated(src, [7, *range(40)]), path, ("vec_id",))
    after = spark.read.parquet(path)
    fresh = _rows(ann_ivf_topk(after, 7))
    assert fresh != before
    assert _rows(ann_ivf_topk(after, 7, cache_key=path)) == fresh


def test_dup_components_see_upsert(spark, sf_dir, tmp_path):
    from floatchat_datapipeline_spark.operators.dedup import dup_components

    src, path = _publish(spark, sf_dir, tmp_path, "documents", "doc_id")
    before = _rows(dup_components(spark.read.parquet(path), spark, cache_key=path))
    # five copies of doc 1's text form one new duplicate component
    text = src.filter("doc_id = 1").first()["text"]
    copies = src.filter(F.col("doc_id").between(2, 6)).withColumn(
        "text", F.lit(text)
    )
    upsert(copies, path, ("doc_id",))
    after = spark.read.parquet(path)
    fresh = _rows(dup_components(after, spark))
    assert fresh != before
    assert _rows(dup_components(after, spark, cache_key=path)) == fresh


def test_coactivity_edges_see_upsert(spark, sf_dir, tmp_path):
    from floatchat_datapipeline_spark.operators.graph import coactivity_edges

    src, path = _publish(spark, sf_dir, tmp_path, "events", "event_id")
    before = _rows(coactivity_edges(spark.read.parquet(path), cache_key=path))
    moved = src.filter(F.col("event_id") % 7 == 0).withColumn(
        "user_id", F.col("user_id") + 1_000_000
    )
    upsert(moved, path, ("event_id",))
    after = spark.read.parquet(path)
    fresh = _rows(coactivity_edges(after))
    assert fresh != before
    assert _rows(coactivity_edges(after, cache_key=path)) == fresh
    # the new version replaced the old value in its slot
    slots = [s for s in memo._STORE if s[0] == "coactivity-edges"]
    assert len(slots) == 1


def test_unchanged_reread_is_a_hit(spark, sf_dir, tmp_path):
    from floatchat_datapipeline_spark.operators.graph import coactivity_edges

    _, path = _publish(spark, sf_dir, tmp_path, "events", "event_id")
    e1 = coactivity_edges(spark.read.parquet(path), cache_key=path)
    e2 = coactivity_edges(spark.read.parquet(path), cache_key=path)
    assert e1 is e2
    # the held value is a lineage cut, not the live plan
    assert "ExistingRDD" in e1._jdf.queryExecution().executedPlan().toString()


def test_reset_empties_the_store(spark, sf_dir):
    from floatchat_datapipeline_spark.embeddings import pq, search
    from floatchat_datapipeline_spark.operators import dedup

    # the three names perfbench calls are the one reset
    assert search.reset_caches is memo.reset
    assert pq.reset_caches is memo.reset
    assert dedup.clear_dup_components_cache is memo.reset
    emb = load_table(spark, sf_dir, "embeddings")
    key = f"{sf_dir}/embeddings.parquet#reset"
    search.ann_ivf_topk(emb, 1, cache_key=key).collect()
    names = {slot[0] for slot in memo._STORE}
    assert names == {"ivf-centroids", "ivf-index"}
    (index,) = [v for s, (_, v) in memo._STORE.items() if s[0] == "ivf-index"]
    assert index.is_cached
    memo.reset()
    assert not memo._STORE
    assert not index.is_cached


_NEW_SESSION_PROBE = textwrap.dedent(
    """
    import sys
    sys.path.insert(0, sys.argv[1])
    from pyspark.sql import SparkSession
    from floatchat_datapipeline_spark.embeddings.search import (
        ann_ivf_topk,
        kmeans_centroids,
    )

    def session():
        return (
            SparkSession.builder.master("local[2]")
            .config("spark.ui.enabled", "false")
            .config("spark.sql.shuffle.partitions", "4")
            .getOrCreate()
        )

    path = sys.argv[2]
    s1 = session()
    emb1 = s1.read.parquet(path)
    want = sorted(ann_ivf_topk(emb1, 7, cache_key=path).collect())
    cents = kmeans_centroids(emb1, cache_key=path)
    s1.stop()
    # the same frame still finds its driver-side value once its session
    # has stopped (a benchmark reads trained centroids after shutdown)
    print("STOPPED:" + str(kmeans_centroids(emb1, cache_key=path) == cents))
    s2 = session()
    got = sorted(ann_ivf_topk(s2.read.parquet(path), 7, cache_key=path).collect())
    print("RESULT:" + str(got == want))
    s2.stop()
    """
)


def test_new_session_never_gets_an_old_sessions_value(sf_dir):
    """Same path, same cache_key, same version, but a new SparkSession:
    the value built in the stopped one (a persisted index bound to its
    SparkContext) must not be handed out. The old session's own frame
    still finds its driver-side centroids after the stop."""
    proc = subprocess.run(
        [sys.executable, "-c", _NEW_SESSION_PROBE, str(ROOT),
         f"{sf_dir}/embeddings.parquet"],
        capture_output=True,
        text=True,
        timeout=600,
    )
    lines = [
        ln for ln in proc.stdout.splitlines() if ln.startswith(("STOPPED:", "RESULT:"))
    ]
    assert lines == ["STOPPED:True", "RESULT:True"], proc.stderr[-3000:]


def _module_level_caches(tree: ast.Module) -> list[str]:
    names = []
    for node in tree.body:
        if isinstance(node, ast.Assign):
            targets, value = node.targets, node.value
        elif isinstance(node, ast.AnnAssign) and node.value is not None:
            targets, value = [node.target], node.value
        else:
            continue
        is_dict = isinstance(value, (ast.Dict, ast.DictComp)) or (
            isinstance(value, ast.Call)
            and getattr(value.func, "id", getattr(value.func, "attr", None))
            in ("dict", "defaultdict", "OrderedDict")
        )
        names += [
            t.id
            for t in targets
            if isinstance(t, ast.Name) and t.id.endswith("_CACHE") and is_dict
        ]
    return names


def test_no_module_level_cache_dict_outside_memo():
    assert _module_level_caches(ast.parse("_X_CACHE: dict = {}")) == ["_X_CACHE"]
    assert _module_level_caches(ast.parse("_Y_CACHE = dict()")) == ["_Y_CACHE"]
    found = {
        str(p.relative_to(ROOT)): names
        for p in sorted(PACKAGE.rglob("*.py"))
        if p.name != "memo.py"
        and (names := _module_level_caches(ast.parse(p.read_text())))
    }
    assert not found, f"memoize through memo.lookup instead: {found}"
