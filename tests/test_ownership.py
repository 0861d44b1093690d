"""Every persist the engine creates has an owner that releases it."""

import ast
import pathlib

import pytest
from pyspark.sql import functions as F

from datacompy_spark.operators import dedup as D

PKG = pathlib.Path(__file__).resolve().parents[1] / "datacompy_spark"

#: plans/cache.py IS the owner: its tracked_persist is the one bare
#: persist every other module routes through
EXEMPT = {"plans/cache.py"}


def _incremental_minhash(spark, sf_dir):
    # the registry's incremental_dedup query runs method="exact"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    return D.incremental_dedup(
        docs.filter("doc_id % 2 = 1"), docs.filter("doc_id % 2 = 0"),
        "doc_id", "text", method="minhash",
    )


@pytest.mark.parametrize(
    "name",
    [
        "dedup_embedding_cosine",
        "dedup_semantic",
        "bm25_search",
        "lm_score",
        "graph_pagerank",
        "incremental_dedup_minhash",
        "cmp_column_stats",
        "cmp_all_mismatch",
        "cmp_matches_summary",
    ],
)
def test_operator_persists_released_by_release_caches(spark, sf_dir, name):
    from datacompy_spark import release_caches
    from datacompy_spark.queries import QUERIES

    build = {**QUERIES, "incremental_dedup_minhash": _incremental_minhash}[name]
    spark.catalog.clearCache()
    release_caches()
    build(spark, sf_dir).collect()
    release_caches()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.mark.parametrize(
    "mask,kw", [(False, {}), (True, {}), (False, {"cache_intermediates": True})],
    ids=["check", "masked", "cache_intermediates"],
)
def test_scope_releases_compare_persists(spark, lineitem, mask, kw):
    """A ``scope()`` around a SparkCompare check flow leaves nothing cached:
    the diff, its masked re-persist and the ``cache_intermediates`` outer
    join are all owned by the scope."""
    from datacompy_spark import SparkCompare, release_caches, scope

    new = lineitem.withColumn(
        "l_discount",
        F.when(F.col("l_orderkey") % 7 == 0, F.col("l_discount") + 0.004)
        .otherwise(F.col("l_discount")),
    )
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    release_caches()
    with scope():
        c = SparkCompare(
            spark, lineitem, new, join_columns=["l_orderkey", "l_linenumber"], **kw
        )
        assert not c.matches()
        assert c.column_stats
        assert c.all_mismatch().count() > 0
        if mask:
            c.hide_sensitive_columns(["l_comment"])
            assert c.all_mismatch().count() > 0
        assert not cache_manager.isEmpty()
    assert cache_manager.isEmpty()


def _unowned_persists(path: pathlib.Path):
    """(line, function) of every ``.persist()``/``.cache()`` call whose
    innermost enclosing function never calls ``.unpersist(``."""

    def calls(node, attr):
        return [
            n
            for n in ast.walk(node)
            if isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr == attr
        ]

    tree = ast.parse(path.read_text(), filename=str(path))
    owner_of = {}
    for fn in ast.walk(tree):
        if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            for n in ast.walk(fn):
                owner_of[id(n)] = fn  # walk is outer-first: innermost wins
    found = []
    for call in calls(tree, "persist") + calls(tree, "cache"):
        fn = owner_of.get(id(call))
        if fn is None or not calls(fn, "unpersist"):
            found.append((call.lineno, fn.name if fn else "<module>"))
    return found


def test_every_persist_has_an_owner():
    """Outside the exempt modules, a bare persist must be released by the
    function that made it; anything a returned lazy plan still reads goes
    through ``plans.cache.tracked_persist`` instead."""
    bad = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        if rel in EXEMPT:
            continue
        bad += [f"{rel}:{line} in {fn}()" for line, fn in _unowned_persists(path)]
    assert not bad, "persist without an owner:\n" + "\n".join(bad)
