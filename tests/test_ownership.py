"""Every persist the engine creates has an owner that releases it."""

import ast
import pathlib

import pytest

from datacompy_spark.operators import dedup as D

PKG = pathlib.Path(__file__).resolve().parents[1] / "datacompy_spark"

#: modules that own their frames some other way: plans/cache.py IS the
#: owner, and SparkCompare releases what it persists through uncache()
EXEMPT = {"plans/cache.py", "operators/compare.py"}


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
