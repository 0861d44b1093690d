"""Spark-function ↔ SQL-twin signature drift guard.

Round-6 lesson: ``tfidf_top_terms`` grew a ``min_tf`` knob that its DuckDB
twin silently lacked, so any caller passing ``min_tf > 1`` diverged from
the oracle. This test makes that class of drift impossible to reintroduce:
for every ``<name>_sql`` twin with a same-module Spark counterpart
``<name>``, every DEFAULTED (tuning) parameter of the Spark side must
exist on the SQL side with the SAME default — unless the pair is
explicitly allowlisted with a reason (structural interface differences,
not semantic knobs).
"""

import importlib
import inspect

TWIN_MODULES = [
    "datacompy_spark.operators.textops",
    "datacompy_spark.operators.layout",
    "datacompy_spark.operators.graph",
    "datacompy_spark.operators.expectations",
    "datacompy_spark.operators.similarity",
    "datacompy_spark.functions.hashing",
    "datacompy_spark.functions.text",
    "datacompy_spark.functions.vector",
]

#: Spark-only defaulted params that are INTERFACE shape, not result-shaping
#: knobs. Every entry needs a reason; anything not listed fails the test.
ALLOWED_SPARK_ONLY = {
    "decontaminate": {
        # the SQL twin expresses the eval set as a predicate over ONE
        # table, so a separate eval-side column name cannot exist there;
        # eval_text_col=None means "same as text_col" on the Spark side
        "eval_text_col",
    },
    "corpus_mix_sample": {
        # Spark takes a Column weight expression; the twin takes the
        # equivalent SQL string via its own `weight_sql` parameter — the
        # knob exists on both sides under type-appropriate names
        "weight_expr",
    },
}


def _defaults(fn):
    return {
        k: v.default
        for k, v in inspect.signature(fn).parameters.items()
        if v.default is not inspect.Parameter.empty
    }


def test_spark_defaults_exist_on_sql_twin_with_same_value():
    problems = []
    checked = 0
    for mod_name in TWIN_MODULES:
        mod = importlib.import_module(mod_name)
        for name, sql_fn in list(vars(mod).items()):
            if not (name.endswith("_sql") and callable(sql_fn)):
                continue
            spark_fn = getattr(mod, name[:-4], None)
            if spark_fn is None or not callable(spark_fn):
                continue  # helper twins without a Spark counterpart
            checked += 1
            base = name[:-4]
            d_sql, d_spark = _defaults(sql_fn), _defaults(spark_fn)
            allowed = ALLOWED_SPARK_ONLY.get(base, set())
            for param, default in d_spark.items():
                if param in allowed:
                    continue
                if param not in d_sql:
                    problems.append(
                        f"{mod_name}.{base}: Spark knob {param!r} (default "
                        f"{default!r}) missing from {name} — the oracle twin "
                        "silently ignores it"
                    )
                elif d_sql[param] != default:
                    problems.append(
                        f"{mod_name}.{base}: default drift on {param!r}: "
                        f"spark={default!r} sql={d_sql[param]!r}"
                    )
    assert checked >= 8, f"twin discovery broke (found only {checked} pairs)"
    assert not problems, "\n".join(problems)


def test_allowlist_entries_still_exist():
    """A stale allowlist entry means the structural difference was
    resolved — prune it so the guard stays tight."""
    for base, params in ALLOWED_SPARK_ONLY.items():
        found = False
        for mod_name in TWIN_MODULES:
            mod = importlib.import_module(mod_name)
            fn = getattr(mod, base, None)
            if fn is not None:
                found = True
                d = _defaults(fn)
                for p in params:
                    assert p in d, (
                        f"allowlisted param {base}.{p} no longer exists — "
                        "remove it from ALLOWED_SPARK_ONLY"
                    )
        assert found, f"allowlisted function {base} no longer exists"
