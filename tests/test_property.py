"""Property-based tests (hypothesis): the NumericComparator must agree with
numpy.isclose (plus the null-safe extensions) on arbitrary doubles."""

import math

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from datacompy_spark import columns_equal
from conftest import shuffle_partitions

floats = st.floats(
    allow_nan=True, allow_infinity=True, width=64, min_value=None, max_value=None
)
tols = st.floats(min_value=0, max_value=1e3, allow_nan=False, allow_infinity=False)


def expected_match(a, b, rel_tol, abs_tol):
    """Reference semantics: NaN==NaN, exact equality, else numpy.isclose
    shape |a-b| <= atol + rtol*|b| with non-finite → exact-only."""
    if a is None and b is None:
        return True
    if a is None or b is None:
        return False
    if math.isnan(a) and math.isnan(b):
        return True
    if math.isnan(a) or math.isnan(b):
        return False
    if a == b:
        return True
    if math.isinf(a) or math.isinf(b):
        return False
    return bool(abs(a - b) <= abs_tol + rel_tol * abs(b))


class TestStringComparatorProperties:
    # alphabet: printable ASCII + accents; exotic Unicode case-folding and
    # non-space whitespace are out of scope (Spark trim strips ' ' only,
    # and JVM vs Python case maps diverge on locale-special codepoints)
    _alphabet = st.sampled_from(list(" abcXYZ09!é Ü"))

    @settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
    @given(
        pairs=st.lists(
            st.tuples(
                st.one_of(st.none(), st.text(alphabet=_alphabet, max_size=12)),
                st.one_of(st.none(), st.text(alphabet=_alphabet, max_size=12)),
            ),
            min_size=1,
            max_size=30,
        ),
        ignore_spaces=st.booleans(),
        ignore_case=st.booleans(),
    )
    def test_matches_python_normalization(self, spark, pairs, ignore_spaces, ignore_case):
        df = spark.createDataFrame(pairs, "a string, b string")
        got = [
            r["m"]
            for r in df.withColumn(
                "m",
                columns_equal(
                    df, "a", "b", ignore_spaces=ignore_spaces, ignore_case=ignore_case
                ),
            ).collect()
        ]

        def norm(s):
            if s is None:
                return None
            if ignore_spaces:
                s = s.strip(" ")  # Spark trim strips spaces, not all whitespace
            if ignore_case:
                s = s.upper()
            return s

        want = [norm(a) == norm(b) for a, b in pairs]
        assert got == want


class TestToleranceNormalization:
    @settings(max_examples=50, deadline=None)
    @given(
        tol=st.one_of(
            st.floats(min_value=0, max_value=1e6, allow_nan=False),
            st.dictionaries(
                st.sampled_from(["A", "b", "C", "default"]),
                st.floats(min_value=0, max_value=1e6, allow_nan=False),
                max_size=4,
            ),
        )
    )
    def test_normalize_tolerance_total(self, tol):
        from datacompy_spark.operators.compare import normalize_tolerance

        cols = ["a", "b", "c"]
        out = normalize_tolerance(tol, cols, lower=True)
        assert set(out) == set(cols)
        assert all(v >= 0 for v in out.values())
        if isinstance(tol, dict):
            default = {k.lower(): v for k, v in tol.items()}.get("default", 0.0)
            folded = {k.lower(): v for k, v in tol.items()}
            for c in cols:
                assert out[c] == folded.get(c, default)


class TestNumericComparatorProperties:
    @settings(max_examples=20, deadline=None, suppress_health_check=list(HealthCheck))
    @given(
        pairs=st.lists(
            st.tuples(st.one_of(st.none(), floats), st.one_of(st.none(), floats)),
            min_size=1,
            max_size=40,
        ),
        rel_tol=tols,
        abs_tol=tols,
    )
    def test_matches_numpy_isclose_semantics(self, spark, pairs, rel_tol, abs_tol):
        df = spark.createDataFrame(pairs, "a double, b double")
        got = [
            r["m"]
            for r in df.withColumn(
                "m", columns_equal(df, "a", "b", rel_tol=rel_tol, abs_tol=abs_tol)
            ).collect()
        ]
        # row order from createDataFrame(list) is preserved for local data
        want = [expected_match(a, b, rel_tol, abs_tol) for a, b in pairs]
        assert got == want


class TestPrefixFilterPrinciple:
    """Pure-Python property test of the PPJoin prefix-filtering math that
    ``_prefix_filter_candidates`` relies on: for ANY global total order and
    ANY pair of gram sets with Jaccard >= t, the |x| - ceil(t*|x|) + 1
    prefixes must intersect. A counterexample here would mean the Spark
    candidate join can silently lose qualifying pairs."""

    @given(
        st.lists(
            st.frozensets(st.integers(min_value=0, max_value=120), min_size=1, max_size=40),
            min_size=2,
            max_size=12,
        ),
        st.sampled_from([0.3, 0.5, 0.7, 0.9]),
    )
    @settings(max_examples=300, deadline=None)
    def test_qualifying_pairs_share_prefix_grams(self, sets, t):
        import math

        def prefix(s):
            ordered = sorted(s)  # the global total order
            p = len(s) - math.ceil(t * len(s)) + 1
            return set(ordered[:p])

        for i in range(len(sets)):
            for j in range(i + 1, len(sets)):
                a, b = sets[i], sets[j]
                jac = len(a & b) / len(a | b)
                if jac >= t:
                    assert prefix(a) & prefix(b), (
                        f"prefix filter lost a pair: J={jac} t={t} a={sorted(a)} b={sorted(b)}"
                    )


class TestPackSequencesProperties:
    @settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
    @given(
        docs=st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=500),   # doc_id (deduped below)
                # ≥1: Spark's split-based token count sees empty text as one
                # empty token — a counter semantic, not a prefix-sum concern
                st.integers(min_value=1, max_value=40),    # token count
                st.sampled_from(["g0", "g1", "g2"]),       # group
            ),
            min_size=1,
            max_size=80,
        ),
        budget=st.sampled_from([1, 7, 64]),
        n_parts=st.sampled_from([1, 3, 8]),
    )
    def test_distributed_prefix_sum_matches_sequential(self, spark, docs, budget, n_parts):
        # the two-phase distributed prefix sum must equal a sequential
        # per-group running sum for ANY grouping/ordering/session partition
        # count
        from datacompy_spark.operators.textops import pack_sequences

        seen = {}
        for i, n, g in docs:
            seen[i] = (n, g)  # dedupe ids: window order must be unambiguous
        rows = [(i, "w " * n, g) for i, (n, g) in seen.items()]
        df = spark.createDataFrame(rows, "doc_id bigint, text string, source string")
        with shuffle_partitions(spark, n_parts):
            got = {
                r["doc_id"]: (r["bin_id"], r["n_tokens"])
                for r in pack_sequences(
                    df, "doc_id", "text", "source", token_budget=budget
                ).collect()
            }
        want = {}
        running = {}
        for i in sorted(seen):
            n, g = seen[i]
            start = running.get(g, 0)
            want[i] = (start // budget, n)
            running[g] = start + n
        assert got == want


class TestRepetitionMetricsProperties:
    _word = st.sampled_from(["go", "stop", "red", "blue", "x1"])

    @settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
    @given(
        docs=st.lists(
            st.lists(_word, min_size=1, max_size=24), min_size=1, max_size=8
        )
    )
    def test_matches_pure_python_counts(self, spark, docs):
        from collections import Counter

        import datacompy_spark.operators.textops as TO

        rows = [(i, " ".join(words)) for i, words in enumerate(docs)]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        got = {
            r["doc_id"]: r
            for r in TO.repetition_metrics(df, "doc_id", "text").collect()
        }

        def grams(words, n):
            if len(words) >= n:
                return [" ".join(words[i : i + n]) for i in range(len(words) - n + 1)]
            return [" ".join(words)]  # word_shingles short-doc collapse

        for i, words in enumerate(docs):
            c1, c2, c3 = (Counter(grams(words, n)) for n in (1, 2, 3))
            assert got[i]["top_word_frac"] == pytest.approx(
                max(c1.values()) / sum(c1.values())
            )
            assert got[i]["top_bigram_frac"] == pytest.approx(
                max(c2.values()) / sum(c2.values())
            )
            dup = sum(v for v in c3.values() if v > 1)
            assert got[i]["dup_trigram_frac"] == pytest.approx(
                dup / sum(c3.values())
            )


class TestCdcRoundTripProperty:
    """apply_changes(old, snapshot_cdc(old, new)) == new for ANY pair of
    keyed snapshots, including null keys, null values, and disjoint key
    sets — the algebraic contract of the CDC pair."""

    @settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
    @given(
        old_rows=st.lists(
            st.tuples(
                st.one_of(st.none(), st.integers(0, 20)),
                st.one_of(st.none(), st.text("ab", max_size=2)),
                st.one_of(st.none(), st.floats(allow_nan=False, allow_infinity=False,
                                               width=32)),
            ),
            max_size=12,
            unique_by=lambda t: t[0],
        ),
        new_rows=st.lists(
            st.tuples(
                st.one_of(st.none(), st.integers(0, 20)),
                st.one_of(st.none(), st.text("ab", max_size=2)),
                st.one_of(st.none(), st.floats(allow_nan=False, allow_infinity=False,
                                               width=32)),
            ),
            max_size=12,
            unique_by=lambda t: t[0],
        ),
    )
    def test_replay_reproduces_new(self, spark, old_rows, new_rows):
        from pyspark.sql import functions as F

        from datacompy_spark.operators.cdc import apply_changes, snapshot_cdc

        schema = "k int, a string, b double"
        old = spark.createDataFrame(old_rows, schema)
        new = spark.createDataFrame(new_rows, schema)
        feed = snapshot_cdc(old, new, ["k"])
        rebuilt = apply_changes(old, feed, ["k"], ["a", "b"])

        def canon(df):
            return sorted(
                ((r["k"], r["a"], r["b"]) for r in df.collect()),
                key=lambda t: tuple((v is None, v) for v in t),
            )

        assert canon(rebuilt) == canon(new)
        # and the feed itself is minimal: no 'unchanged' rows ever leak
        assert feed.filter(F.col("change_type") == "unchanged").count() == 0


class TestInternalNameCollisionProperties:
    """Whatever (reserved-looking) column names the inputs carry, the
    compare must produce the same statistics as the same data under plain
    names — the collision-probe contract."""

    _reserved = [
        "_merge", "__dc_ordinal", "__dc_idx", "__dc_ord",
        "__present_lhs", "__present_rhs", "_merge2", "__dc2_ordinal",
    ]

    @settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
    @given(
        names=st.lists(
            st.sampled_from(_reserved), min_size=1, max_size=3, unique=True
        ),
        flip=st.lists(st.booleans(), min_size=8, max_size=8),
    )
    def test_reserved_names_equal_plain_names(self, spark, names, flip):
        from pyspark.sql import functions as F

        from datacompy_spark import SparkCompare

        n = len(flip)
        base = spark.range(0, n).select(
            F.col("id").alias("k"),
            *[(F.col("id") * (i + 2)).alias(f"v{i}") for i in range(len(names))],
        )
        flips = spark.createDataFrame(
            [(i, bool(b)) for i, b in enumerate(flip)], "k long, __flip boolean"
        )
        pert = base.join(flips, "k").select(
            "k",
            *[
                F.when(F.col("__flip"), F.col(f"v{i}") + 1)
                .otherwise(F.col(f"v{i}"))
                .alias(f"v{i}")
                for i in range(len(names))
            ],
        )
        plain = SparkCompare(spark, base, pert, join_columns="k")
        renamed = SparkCompare(
            spark,
            base.toDF("k", *names),
            pert.toDF("k", *names),
            join_columns="k",
        )
        want = {
            s["column"].replace("v", "", 1): (s["match_cnt"], s["unequal_cnt"])
            for s in plain.column_stats
            if s["column"] != "k"
        }
        got = {
            str(i): (s["match_cnt"], s["unequal_cnt"])
            for i, s in enumerate(
                s for s in renamed.column_stats if s["column"] != "k"
            )
        }
        assert got == want
        assert plain.count_matching_rows() == renamed.count_matching_rows()

    def test_suffix_collision_with_presence_markers(self, spark):
        # with df1_name="lhs" a user column `__present` suffixes to
        # `__present_lhs` — exactly the presence-marker name attached AFTER
        # suffixing. The probe must consider post-suffix forms, or the
        # marker's withColumn silently replaces the user's data.
        from pyspark.sql import functions as F

        from datacompy_spark import SparkCompare

        base = spark.range(0, 8).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("__present")
        )
        pert = base.select(
            "k",
            F.when(F.col("k") % 2 == 0, F.col("__present") + 1)
            .otherwise(F.col("__present"))
            .alias("__present"),
        )
        c = SparkCompare(
            spark, base, pert, join_columns="k", df1_name="lhs", df2_name="rhs"
        )
        stats = {
            s["column"]: (s["match_cnt"], s["unequal_cnt"]) for s in c.column_stats
        }
        assert stats["__present"] == (4, 4)
        assert c.count_matching_rows() == 4


class TestNgramDuplicationProperties:
    """ngram_duplication_profile vs an independent pure-Python model —
    the third implementation alongside the Spark operator and its DuckDB
    oracle twin, over generated corpora with shared vocabulary, NULLs,
    empty and sub-n-token documents."""

    @staticmethod
    def _model(texts, n):
        """Pure-Python replica of the operator's contract."""
        import re

        def norm(t):
            t = re.sub(r"[^a-z0-9 ]", " ", t.lower())
            return re.sub(r" +", " ", t).strip()

        def shingles(t):
            toks = norm(t).split(" ")
            if len(toks) >= n:
                return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}
            return {" ".join(toks)}

        per_doc = {
            i: (shingles(t) if t is not None else set())
            for i, t in enumerate(texts)
        }
        from collections import Counter

        freq = Counter(g for gs in per_doc.values() for g in gs)
        out = {}
        for i, gs in per_doc.items():
            n_grams = len(gs)
            n_dup = sum(1 for g in gs if freq[g] > 1)
            frac = n_dup / n_grams if n_grams else None
            out[i] = (n_grams, n_dup, frac)
        return out

    @settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
    @given(
        texts=st.lists(
            st.one_of(
                st.none(),
                st.lists(
                    st.sampled_from(["alpha", "beta", "Gamma!", "d0g", "x"]),
                    min_size=0,
                    max_size=8,
                ).map(" ".join),
            ),
            min_size=1,
            max_size=12,
        ),
        n=st.integers(min_value=2, max_value=4),
    )
    def test_matches_pure_python_model(self, spark, texts, n):
        from pyspark.sql.types import (
            LongType, StringType, StructField, StructType,
        )

        from datacompy_spark.operators.textops import ngram_duplication_profile

        schema = StructType(
            [StructField("doc_id", LongType()), StructField("text", StringType())]
        )
        df = spark.createDataFrame(list(enumerate(texts)), schema)
        got = {
            r["doc_id"]: (r["n_grams"], r["n_dup_grams"], r["dup_frac"])
            for r in ngram_duplication_profile(df, "doc_id", "text", n=n).collect()
        }
        want = self._model(texts, n)
        assert set(got) == set(want)
        for i in want:
            assert got[i][:2] == want[i][:2], (i, texts[i], got[i], want[i])
            if want[i][2] is None:
                assert got[i][2] is None
            else:
                assert abs(got[i][2] - want[i][2]) < 1e-12


class TestIncrementalDedupProperties:
    @settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
    @given(
        corpus=st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=200),
                st.sampled_from(["aa bb", "cc dd", "ee ff", "gg hh", "ii jj"]),
            ),
            min_size=0,
            max_size=25,
        ),
        batch=st.lists(
            st.tuples(
                st.integers(min_value=300, max_value=500),
                st.sampled_from(["aa bb", "cc dd", "ee ff", "xx yy", "zz ww"]),
            ),
            min_size=1,
            max_size=25,
        ),
    )
    def test_exact_mode_matches_python_model(self, spark, corpus, batch):
        """incremental_dedup(exact) must agree with the obvious sequential
        model for ANY corpus/batch contents: corpus match wins (min corpus
        id), else first batch occurrence (min batch id) survives."""
        from datacompy_spark.operators.dedup import incremental_dedup

        corpus = dict(corpus)  # dedupe ids
        batch = dict(batch)
        cdf = spark.createDataFrame(
            list(corpus.items()) or [(None, None)], "doc_id bigint, text string"
        )
        if not corpus:
            cdf = cdf.filter("doc_id IS NOT NULL")
        bdf = spark.createDataFrame(list(batch.items()), "doc_id bigint, text string")

        # python model (text is pre-normalized by construction)
        corpus_min = {}
        for i, t in corpus.items():
            corpus_min[t] = min(corpus_min.get(t, i), i)
        batch_min = {}
        for i, t in batch.items():
            batch_min[t] = min(batch_min.get(t, i), i)
        expect = {}
        for i, t in batch.items():
            if t in corpus_min:
                expect[i] = ("dup_corpus", corpus_min[t])
            elif i != batch_min[t]:
                expect[i] = ("dup_batch", batch_min[t])
            else:
                expect[i] = ("new", None)

        got = {
            r["doc_id"]: (r["verdict"], r["match_id"])
            for r in incremental_dedup(
                bdf, cdf, "doc_id", "text", method="exact"
            ).collect()
        }
        assert got == expect


class TestRemoveDupSpansProperties:
    """remove_dup_spans vs an independent pure-Python model of the
    keep-first contract — the third implementation alongside the Spark
    operator and its DuckDB twin, over generated corpora with a shared
    tiny vocabulary (forcing cross-doc collisions), NULLs, empties and
    sub-n-token documents."""

    @staticmethod
    def _model(texts, n):
        import re

        def norm_toks(t):
            t = re.sub(r"[^a-z0-9 ]", " ", t.lower())
            return re.sub(r" +", " ", t).strip().split(" ")

        toks = {i: norm_toks(t) for i, t in enumerate(texts) if t is not None}
        occs = {}
        for i, tk in sorted(toks.items()):
            for s in range(len(tk) - n + 1):
                occs.setdefault(" ".join(tk[s : s + n]), []).append((i, s))
        covered = {i: set() for i in toks}
        for occ in occs.values():
            if len({d for d, _ in occ}) >= 2:
                first = min(occ)
                for d, s in occ:
                    if (d, s) != first:
                        covered[d].update(range(s, s + n))
        out = {}
        for i, t in enumerate(texts):
            if t is None:
                out[i] = (0, 0, None)
            else:
                tk, cov = toks[i], covered[i]
                kept = [w for p, w in enumerate(tk) if p not in cov]
                out[i] = (len(tk), len(cov), " ".join(kept))
        return out

    @settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
    @given(
        texts=st.lists(
            st.one_of(
                st.none(),
                st.lists(
                    st.sampled_from(["a", "b", "c", "d"]),
                    min_size=0,
                    max_size=10,
                ).map(" ".join),
            ),
            min_size=1,
            max_size=10,
        ),
        n=st.integers(min_value=2, max_value=3),
    )
    def test_matches_pure_python_model(self, spark, texts, n):
        from pyspark.sql.types import (
            LongType, StringType, StructField, StructType,
        )

        from datacompy_spark.operators.textops import remove_dup_spans

        schema = StructType(
            [StructField("doc_id", LongType()), StructField("text", StringType())]
        )
        df = spark.createDataFrame(list(enumerate(texts)), schema)
        got = {
            r["doc_id"]: (r["n_tokens"], r["n_removed"], r["text"])
            for r in remove_dup_spans(df, "doc_id", "text", n=n).collect()
        }
        assert got == self._model(texts, n)


class TestKeyContainmentProperties:
    @settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
    @given(
        child=st.lists(
            st.one_of(st.none(), st.integers(min_value=0, max_value=9)),
            min_size=1,
            max_size=20,
        ),
        parent=st.lists(
            st.one_of(st.none(), st.integers(min_value=0, max_value=9)),
            min_size=1,
            max_size=20,
        ),
    )
    def test_matches_set_model(self, spark, child, parent):
        from datacompy_spark.operators.analytics import key_containment

        cdf = spark.createDataFrame([(v,) for v in child], "fk int")
        pdf = spark.createDataFrame([(v,) for v in parent], "pk int")
        r = key_containment(cdf, "fk", pdf, "pk").collect()[0]
        cs = {v for v in child if v is not None}
        ps = {v for v in parent if v is not None}
        assert r["child_distinct"] == len(cs)
        assert r["parent_distinct"] == len(ps)
        assert r["contained"] == len(cs & ps)
        if cs:
            assert r["containment"] == pytest.approx(len(cs & ps) / len(cs))
        else:
            assert r["containment"] is None

    @settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
    @given(
        vals=st.lists(st.integers(min_value=0, max_value=99), min_size=1, max_size=30)
    )
    def test_self_containment_is_total(self, spark, vals):
        from datacompy_spark.operators.analytics import key_containment

        df = spark.createDataFrame([(v,) for v in vals], "k int")
        r = key_containment(df, "k", df, "k").collect()[0]
        assert r["containment"] == 1.0 and r["coverage"] == 1.0


class TestKsDriftProperties:
    @staticmethod
    def _model(old, new):
        import bisect

        a = sorted(v for v in old if v is not None)
        b = sorted(v for v in new if v is not None)
        if not a or not b:
            return None
        pooled = sorted(set(a) | set(b))
        best = 0.0
        for v in pooled:
            fa = bisect.bisect_right(a, v) / len(a)
            fb = bisect.bisect_right(b, v) / len(b)
            best = max(best, abs(fa - fb))
        return best

    @settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
    @given(
        old=st.lists(
            st.one_of(st.none(), st.integers(min_value=0, max_value=15).map(float)),
            min_size=1,
            max_size=40,
        ),
        new=st.lists(
            st.one_of(st.none(), st.integers(min_value=0, max_value=15).map(float)),
            min_size=1,
            max_size=40,
        ),
    )
    def test_matches_pure_python_ecdf(self, spark, old, new):
        from datacompy_spark.operators.analytics import ks_drift

        odf = spark.createDataFrame([(v,) for v in old], "x double")
        ndf = spark.createDataFrame([(v,) for v in new], "x double")
        r = ks_drift(odf, ndf, "x").collect()[0]
        want = self._model(old, new)
        if want is None:
            assert r["ks_stat"] is None
        else:
            assert r["ks_stat"] == pytest.approx(want, abs=1e-12)


class TestStripHtmlProperties:
    @staticmethod
    def _model(html):
        import re

        if html is None:
            return None
        s = html
        for pat, rep in [
            (r"(?s)<script[^>]*>.*?</script>", " "),
            (r"(?s)<style[^>]*>.*?</style>", " "),
            (r"(?s)<!--.*?-->", " "),
            (r"<[^>]*>", " "),
        ]:
            s = re.sub(pat, rep, s)
        for ent, rep in [
            ("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"),
            ("&quot;", '"'), ("&#39;", "'"), ("&amp;", "&"),
        ]:
            s = s.replace(ent, rep)
        # explicit portable whitespace class (NOT \s): Java \s includes
        # \x0B, RE2's and this model's must not — mirrors _WS_CLASS
        return re.sub(r"[ \t\n\r\f]+", " ", s).strip(" ")

    @settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
    @given(
        docs=st.lists(
            st.one_of(
                st.none(),
                st.lists(
                    st.sampled_from([
                        "<p>", "</p>", "<script>x<y</script>", "<style>a</style>",
                        "<!-- c -->", "word", "&amp;", "&lt;", "&nbsp;", "a<b",
                        "<div class='x'>", "\n", "tail", "\t", "\x0b",
                    ]),
                    min_size=0,
                    max_size=8,
                ).map("".join),
            ),
            min_size=1,
            max_size=8,
        )
    )
    def test_matches_python_re_model(self, spark, docs):
        from datacompy_spark.operators.textops import strip_html

        df = spark.createDataFrame(
            list(enumerate(docs)), "doc_id bigint, html string"
        )
        got = {
            r["doc_id"]: r["text"]
            for r in strip_html(df, "doc_id", "html").collect()
        }
        assert got == {i: self._model(d) for i, d in enumerate(docs)}


class TestGopherQualityProperties:
    """gopher_quality vs a pure-Python model over generated documents."""

    @staticmethod
    def _model(text, min_words=10):
        import re

        if text is None:
            return None
        # tokens(): lower, non-alnum -> space, collapse, trim, split(' ')
        norm = re.sub(" +", " ", re.sub("[^a-z0-9 ]", " ", text.lower())).strip()
        toks = norm.split(" ")
        n_words = len(toks)
        # mean word length over the tokens: norm is tokens joined by
        # single spaces
        mean_wl = (len(norm) - n_words + 1) / n_words
        n_hash = text.count("#")
        n_ell = text.count("...")  # str.count is non-overlapping, like replace-len
        symbol_ratio = (n_hash + n_ell) / n_words
        alpha = sum(1 for t in toks if re.search("[a-z]", t))
        alpha_frac = alpha / n_words
        lines = text.split("\n")
        bullet = sum(1 for ln in lines if ln.startswith("- ") or ln.startswith("* "))
        ell_end = sum(1 for ln in lines if ln.endswith("..."))
        bullet_frac = bullet / len(lines)
        ell_frac = ell_end / len(lines)
        stops = {"the", "be", "to", "of", "and", "that", "have", "with"}
        stop_hits = len(set(toks) & stops)
        reasons = []
        if n_words < min_words or n_words > 100000:
            reasons.append("word_count")
        if mean_wl < 3.0 or mean_wl > 10.0:
            reasons.append("mean_word_len")
        if symbol_ratio > 0.1:
            reasons.append("symbol_ratio")
        if alpha_frac < 0.8:
            reasons.append("alpha_words")
        if bullet_frac > 0.9:
            reasons.append("bullet_lines")
        if ell_frac > 0.3:
            reasons.append("ellipsis_lines")
        if stop_hits < 2:
            reasons.append("stopwords")
        return (n_words, stop_hits, ",".join(reasons), not reasons)

    @settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
    @given(
        docs=st.lists(
            st.lists(
                st.sampled_from([
                    "the", "of", "and", "to", "be", "that", "have", "with",
                    "cat", "supercalifragilistic", "a1", "##", "...", "42",
                    "- item", "* item", "tail...", "\n", "word word word",
                ]),
                min_size=0,
                max_size=25,
            ).map(" ".join),
            min_size=1,
            max_size=6,
        )
    )
    def test_matches_python_model(self, spark, docs):
        from datacompy_spark.operators.textops import gopher_quality

        df = spark.createDataFrame(
            list(enumerate(docs)), "doc_id bigint, text string"
        )
        got = {
            r["doc_id"]: (r["n_words"], r["stop_hits"], r["reasons"], r["keep"])
            for r in gopher_quality(df, "doc_id", "text", min_words=10).collect()
        }
        want = {i: self._model(d) for i, d in enumerate(docs)}
        assert got == want


class TestPassJoinPigeonholeProperty:
    """Pure-Python model of edit_distance_pairs' candidate generation: for
    EVERY pair within the distance threshold, at least one (source_length,
    segment_index, segment_text, position-window) probe must hit — the
    losslessness the Spark operator's equi-join inherits."""

    @staticmethod
    def _segments(length, k):
        base, rem = divmod(length, k)
        segs, start = [], 1
        for i in range(k):
            w = base + (1 if i >= k - rem else 0)
            segs.append((i, start, w))
            start += w
        return segs

    @staticmethod
    def _ed(a, b):
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    @settings(max_examples=400, deadline=None)
    @given(
        s=st.text(alphabet="ab1 ", min_size=0, max_size=14),
        t=st.text(alphabet="ab1 ", min_size=0, max_size=14),
        tau=st.integers(min_value=1, max_value=3),
    )
    def test_every_close_pair_is_a_candidate(self, s, t, tau):
        d = self._ed(s, t)
        if d > tau:
            return  # only closeness must be preserved; extra candidates are fine
        k = tau + 1
        if len(s) > len(t):
            s, t = t, s
        if len(s) < k:
            # short route: both keys provably live in the <= 2*tau class
            assert len(s) <= 2 * tau and len(t) <= 2 * tau
            return
        # main route: some segment of s occurs in t within +-tau of home
        lt, ls = len(t), len(s)
        assert lt - ls <= tau
        hit = False
        for i, st_pos, w in self._segments(ls, k):
            for p in range(max(1, st_pos - tau), min(lt - w + 1, st_pos + tau) + 1):
                if t[p - 1:p - 1 + w] == s[st_pos - 1:st_pos - 1 + w]:
                    hit = True
        assert hit, f"pigeonhole missed: ed({s!r},{t!r})={d} tau={tau}"


class TestQuantileInterpolationProperty:
    """The symmetric weighted interpolation (hi-pos)*v_lo + (pos-lo)*v_hi
    over straddling ranks — the formula exact_quantiles_distributed
    replicates — agrees with numpy's linear quantile to float tolerance
    and is exact at integer positions."""

    @settings(max_examples=200, deadline=None)
    @given(
        vals=st.lists(st.floats(min_value=-1e12, max_value=1e12,
                                allow_nan=False), min_size=1, max_size=40),
        p=st.floats(min_value=0.0, max_value=1.0),
    )
    def test_matches_numpy_linear(self, vals, p):
        svals = sorted(vals)
        n = len(svals)
        pos = p * (n - 1)
        lo, hi = math.floor(pos), math.ceil(pos)
        got = svals[lo] if hi == lo else (
            (hi - pos) * svals[lo] + (pos - lo) * svals[hi]
        )
        want = float(np.quantile(np.array(svals), p, method="linear"))
        assert got == pytest.approx(want, rel=1e-12, abs=1e-6)


class TestGatedDoubleParse:
    """``try_double`` skips the parse of strings that hold no ASCII digit
    and no inf/nan; on every string it must equal a plain
    ``TRY_CAST(s AS DOUBLE)``, NaN equal to NaN."""

    _edge = [
        "  Infinity ", "Infinity", "-Infinity", "+inf", "INF", "infinity",
        "\x0binf", "\tNaN\n", "nan", "-nan", "1d", "1D", "1f", "0x1p3",
        "1e999", "-1e999", "\uff11\uff12", "\u0661\u0662", "\u221e", ".5",
        "5.", "1e", "e5", "", " ", "1,000", "1_000", "+", "-", "0x10",
    ]

    @settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
    @given(
        texts=st.lists(
            st.one_of(
                st.none(),
                st.text(
                    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=12
                ),
                floats.map(repr),
                st.integers().map(str),
                st.sampled_from(_edge),
            ),
            min_size=1,
            max_size=40,
        )
    )
    def test_gate_equals_plain_try_cast(self, spark, texts):
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        from datacompy_spark.functions.comparators import try_double

        df = spark.createDataFrame(
            list(enumerate(texts + self._edge)), "i int, s string"
        )
        rows = df.select(
            F.expr(try_double("s", T.StringType())).alias("gated"),
            F.col("s").try_cast("double").alias("plain"),
        ).collect()
        for r in rows:
            g, p = r["gated"], r["plain"]
            if g is None or p is None:
                assert g is None and p is None, (g, p)
            elif math.isnan(p):
                assert math.isnan(g)
            else:
                assert g == p
