"""Tests for dedup / similarity / text operators with planted ground truth."""

import pytest
from pyspark.sql import functions as F

from datacompy_spark.operators import dedup as D
from datacompy_spark.operators import similarity as S
from datacompy_spark.operators import textops as TO
from datacompy_spark.plans.partitioning import shuffle_partition_count
from conftest import jobs, shuffle_partitions


@pytest.fixture()
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "The quick  brown FOX jumps over the lazy dog!"),  # exact dup after normalize
        (3, "the quick brown fox jumps over the lazy cat"),    # near dup (1 word)
        (4, "completely different content about spark engines"),
        (5, "el rapido zorro marron salta sobre el perro perezoso de la casa"),
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


class TestExactDedup:
    def test_groups(self, spark, docs):
        out = {r["keep_id"]: r["n_docs"] for r in D.exact_dedup(docs, "doc_id", "text").collect()}
        assert out[1] == 2  # docs 1 and 2 normalize identically
        assert out[3] == 1
        assert sum(out.values()) == 5


class TestMinHash:
    def test_near_dup_found(self, spark, docs):
        # 8 bands x 2 rows: P(candidate) at jaccard 0.75 is 1-(1-0.75^2)^8 ≈ 0.9996
        pairs = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in D.minhash_lsh_pairs(
                docs, "doc_id", "text", num_hashes=16, bands=8, threshold=0.3
            ).collect()
        }
        assert (1, 2) in pairs and pairs[(1, 2)] == 1.0  # identical shingle sets
        assert (1, 3) in pairs and 0.3 <= pairs[(1, 3)] < 1.0
        assert all({a, b} != {1, 4} and {a, b} != {4, 5} for a, b in pairs)

    def test_signature_shape(self, spark, docs):
        sig = D.minhash_signatures(docs, "doc_id", "text", num_hashes=16).collect()
        assert all(len(r["signature"]) == 16 for r in sig)


class TestSimHash:
    def test_identical_and_near(self, spark, docs):
        sigs = {r["doc_id"]: r["simhash"] for r in D.simhash_signatures(docs, "doc_id", "text").collect()}
        assert sigs[1] == sigs[2]  # same normalized tokens
        assert bin(sigs[1] ^ sigs[3]).count("1") < bin(sigs[1] ^ sigs[4]).count("1")

    def test_near_dup_pairs(self, spark, docs):
        pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in
                 D.simhash_near_dups(docs, "doc_id", "text", max_hamming=10).collect()}
        assert pairs.get((1, 2)) == 0


class TestNgramJaccard:
    def test_blocked_pairs(self, spark, docs):
        blocked = docs.withColumn("block", F.lit("all"))
        pairs = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in D.ngram_jaccard_pairs(
                blocked, "doc_id", "text", "block", n=3, threshold=0.5
            ).collect()
        }
        assert pairs[(1, 2)] == 1.0
        assert (1, 3) in pairs
        assert (1, 4) not in pairs

    def test_prefix_route_equals_direct_route(self, spark, sf_dir):
        # force every block through the PPJoin prefix-filter path with a tiny
        # cap and assert byte-identical pairs vs the direct all-pairs path —
        # the two physical routes must be observationally indistinguishable
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").withColumn(
            "block", F.concat_ws("#", F.col("lang"), F.expr("n_chars div 50"))
        )
        def run(cap):
            return {
                (r["id_a"], r["id_b"]): round(r["jaccard"], 12)
                for r in D.ngram_jaccard_pairs(
                    docs, "doc_id", "text", "block",
                    n=3, threshold=0.5, direct_block_cap=cap,
                ).collect()
            }
        direct, prefix = run(10**9), run(1)
        assert direct == prefix and len(direct) > 0

    def test_null_duplicate_and_short_text_edges(self, spark):
        # duplicated ids pair with others once per row but never with
        # themselves; a NULL id, block or text never pairs; text that
        # normalizes to empty ("!!", "..") or is shorter than n is one gram
        rows = [
            (1, "the quick brown fox", "b"),
            (1, "the quick brown fox", "b"),
            (2, "the quick brown fox!", "b"),
            (3, "the quick brown fox", None),
            (4, "the quick brown fox", None),
            (None, "the quick brown fox", "b"),
            (5, None, "b"),
            (6, None, "b"),
            (7, "!!", "b"),
            (8, "..", "b"),
            (9, "ab", "b"),
            (10, "ab", "b"),
        ]
        df = spark.createDataFrame(rows, "doc_id bigint, text string, block string")
        got = sorted(
            tuple(r)
            for r in D.ngram_jaccard_pairs(df, "doc_id", "text", "block").collect()
        )
        assert got == [(1, 2, 1.0), (1, 2, 1.0), (7, 8, 1.0), (9, 10, 1.0)]

    def test_string_ids_both_routes_and_pair_pred_match_naive_scan(self, spark):
        # block "x" holds exactly the cap (direct route), block "y" one more
        # (PPJoin route), so one call runs both. Ids mix code points whose
        # UTF-16 order differs from their code-point (UTF-8 byte) order.
        import re

        cap, t = 12, 0.6
        vocab = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
        marks = ["Z", "a", "é", "ｚ", "𝔘", "中"]
        rows = []
        for blk, count in (("x", cap), ("y", cap + 1)):
            for i in range(count):
                words = [vocab[(i // 2 * 3 + j * 7) % len(vocab)] for j in range(6)]
                if i % 2:
                    words[i % 6] = vocab[(i + 5) % len(vocab)]
                doc_id = f"{i % 2}:{marks[i % len(marks)]}{blk}{i}"
                rows.append((doc_id, " ".join(words), blk))
        df = spark.createDataFrame(rows, "doc_id string, text string, block string")

        def grams(s):
            s = re.sub(" +", " ", re.sub("[^a-z0-9 ]", " ", s.lower())).strip()
            return frozenset([s] if len(s) < 3 else (s[i : i + 3] for i in range(len(s) - 2)))

        def naive(pred):
            want = []
            for ia, ta, ba in rows:
                for ib, tb, bb in rows:
                    if ba != bb or not ia < ib or not pred(ia, ib):
                        continue
                    ga, gb = grams(ta), grams(tb)
                    sa, sb, inter = len(ga), len(gb), len(ga & gb)
                    j = inter / (sa + sb - inter)
                    if sb * t <= sa and sa * t <= sb and j >= t:
                        want.append((ia, ib, j))
            return sorted(want)

        def run(pair_pred=None):
            return sorted(
                tuple(r)
                for r in D.ngram_jaccard_pairs(
                    df, "doc_id", "text", "block", threshold=t,
                    direct_block_cap=cap, pair_pred=pair_pred,
                ).collect()
            )

        block_of = {doc_id: blk for doc_id, _, blk in rows}
        want = naive(lambda a, b: True)
        assert {block_of[a] for a, _, _ in want} == {"x", "y"}
        assert run() == want
        # fuzzy_key_match's cross-side rule
        cross = lambda ia, ib: (  # noqa: E731
            (F.substring(ia, 1, 2) == "0:") & (F.substring(ib, 1, 2) == "1:")
        )
        want_cross = naive(lambda a, b: a[:2] == "0:" and b[:2] == "1:")
        assert want_cross and len(want_cross) < len(want)
        assert run(cross) == want_cross

    def test_gram_base_released_by_release_caches(self, spark, sf_dir):
        # the gram base persist has an owner: release_caches() frees it
        from datacompy_spark import release_caches
        from datacompy_spark.queries import QUERIES

        spark.catalog.clearCache()
        release_caches()
        QUERIES["dedup_ngram_jaccard"](spark, sf_dir).collect()
        release_caches()
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


class TestConnectedComponents:
    def test_multi_hop_chain(self, spark):
        # chain 1-2-3-4 plus island 10-11; transitivity must label the whole
        # chain with its minimum even though 1 and 4 never pair directly
        pairs = spark.createDataFrame(
            [(2, 1, 0.9), (2, 3, 0.9), (4, 3, 0.9), (10, 11, 0.9)],
            "id_a bigint, id_b bigint, jaccard double",
        )
        cc = {r["node"]: r["component"] for r in D.connected_components(pairs).collect()}
        assert cc == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}

    def test_assign_components_singletons(self, spark):
        docs = spark.createDataFrame([(i,) for i in range(1, 7)], "doc_id bigint")
        pairs = spark.createDataFrame(
            [(1, 5, 0.9)], "id_a bigint, id_b bigint, jaccard double"
        )
        out = {r["doc_id"]: r["component"] for r in
               D.assign_components(docs, "doc_id", pairs).collect()}
        assert out == {1: 1, 2: 2, 3: 3, 4: 4, 5: 1, 6: 6}


class TestEmbeddingOps:
    def test_neardup_and_knn(self, spark):
        import math

        def vec(seed, dim=8):
            return [math.sin(seed * (i + 1)) for i in range(dim)]

        rows = [
            (1, vec(1.0), 0),
            (2, vec(1.0), 0),            # exact duplicate of 1
            (3, [x * 0.99 for x in vec(1.0)], 0),  # scaled → cosine 1.0
            (4, vec(7.0), 0),
            (5, vec(13.0), 1),
        ]
        emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>, label int")
        dups = {(r["id_a"], r["id_b"]) for r in
                D.embedding_near_dups(emb, "vec_id", "embedding", "label", 0.999).collect()}
        assert (1, 2) in dups and (1, 3) in dups and (1, 4) not in dups

        knn = S.knn_bruteforce(emb, emb.filter("vec_id = 1"), "vec_id", "embedding", k=2).collect()
        assert [r["neighbor_id"] for r in sorted(knn, key=lambda r: r["rank"])] == [2, 3]

    def test_semantic_dedup_prunes_lowest_id_survivor(self, spark):
        import math

        def vec(seed, dim=8):
            return [math.sin(seed * (i + 1)) for i in range(dim)]

        rows = [
            (0, vec(1.0)),
            (1, [x * 0.98 for x in vec(1.0)]),   # cosine 1.0 to id 0
            (2, [x + 0.001 for x in vec(1.0)]),  # cosine ≈ 1 to id 0
            (3, vec(7.0)),
            (4, [x * 1.05 for x in vec(7.0)]),   # cosine 1.0 to id 3
            (5, vec(13.0)),
        ]
        emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
        out = {
            r["vec_id"]: r
            for r in D.semantic_dedup(
                emb, "vec_id", "embedding", pivot_mod=3, threshold=0.99
            ).collect()
        }
        assert len(out) == 6  # one row per input vector, dup or not
        # the lowest id of every tight group survives; its mates are pruned
        assert not out[0]["is_dup"] and out[1]["is_dup"] and out[2]["is_dup"]
        assert not out[3]["is_dup"] and out[4]["is_dup"]
        assert not out[5]["is_dup"]
        # a vector with no lower-id cluster-mate reports NULL, not 0.0
        assert out[0]["max_lower_cos"] is None
        assert out[1]["max_lower_cos"] >= 0.99

    def test_lsh_recall_on_clustered_data(self, spark):
        # LSH recall guarantees apply to genuinely-near neighbors (the driver
        # embeddings top out at cosine ~0.47, where sign-bit buckets rarely
        # collide — by design). Plant tight clusters (cosine > 0.99) instead.
        import random

        rng = random.Random(7)
        rows = []
        vid = 0
        for cluster in range(10):
            center = [rng.gauss(0, 1) for _ in range(64)]
            for _ in range(5):
                noisy = [x + rng.gauss(0, 0.02) for x in center]
                rows.append((vid, noisy))
                vid += 1
        emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
        probes = emb.filter(F.col("vec_id") % 5 == 0)
        exact = {
            (r["query_id"], r["neighbor_id"])
            for r in S.knn_bruteforce(emb, probes, "vec_id", "embedding", k=4).collect()
        }
        approx = {
            (r["query_id"], r["neighbor_id"])
            for r in S.knn_lsh(
                emb, probes, "vec_id", "embedding", k=4, n_tables=4, n_planes=8
            ).collect()
        }
        recall = len(exact & approx) / len(exact)
        assert recall >= 0.8, f"LSH recall {recall} too low on clustered data"

    def test_pq_recall_on_clustered_data(self, spark):
        # PQ codes quantize aggressively, but within a tight cluster the
        # nearest codewords coincide, so the ADC ranking keeps true
        # neighbors inside the rerank window and exact rerank recovers them.
        import random

        rng = random.Random(11)
        rows = []
        vid = 0
        for cluster in range(10):
            center = [rng.gauss(0, 1) for _ in range(64)]
            for _ in range(5):
                noisy = [x + rng.gauss(0, 0.02) for x in center]
                rows.append((vid, noisy))
                vid += 1
        emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
        probes = emb.filter(F.col("vec_id") % 5 == 0)
        exact = {
            (r["query_id"], r["neighbor_id"])
            for r in S.knn_bruteforce(emb, probes, "vec_id", "embedding", k=4).collect()
        }
        approx = {
            (r["query_id"], r["neighbor_id"])
            for r in S.knn_pq(
                emb, probes, "vec_id", "embedding", k=4, dim=64, m=8,
                pivot_mod=7, rerank=10,
            ).collect()
        }
        recall = len(exact & approx) / len(exact)
        assert recall >= 0.8, f"PQ recall {recall} too low on clustered data"

    def test_pq_rejects_indivisible_subspaces(self, spark, embeddings):
        with pytest.raises(ValueError):
            S.knn_pq(embeddings, embeddings.limit(1), "vec_id", "embedding", dim=64, m=7)

    def test_ivf_recall_and_probe_bound(self, spark, embeddings):
        probes = embeddings.filter(F.col("vec_id") % 97 == 0)
        exact = {
            (r["query_id"], r["neighbor_id"])
            for r in S.knn_bruteforce(embeddings, probes, "vec_id", "embedding", k=5).collect()
        }
        approx = S.ivf_knn(
            embeddings, probes, "vec_id", "embedding", k=5, pivot_mod=37, nprobe=2
        ).collect()
        got = {(r["query_id"], r["neighbor_id"]) for r in approx}
        # every query answered with k results, ranks 1..5, some overlap with exact
        by_q = {}
        for r in approx:
            by_q.setdefault(r["query_id"], []).append(r["rank"])
        assert all(sorted(v) == [1, 2, 3, 4, 5] for v in by_q.values())
        assert len(got & exact) > 0


class TestAnnAutoTune:
    """tune_ann's density probe must size the bucketed paths to >=0.9
    recall on clustered (realistic) corpora, and must honestly refuse —
    recommending the int8-rerank path — on isotropic data where no
    affordable bucketing has locality to exploit."""

    @pytest.fixture(scope="class")
    def clustered(self, spark):
        # mixture of 20 Gaussians at moderate tightness (neighbor cosine
        # ~0.8): loose enough that DEFAULT LSH params sit well under 0.9
        # recall — exactly the regime fixed parameters get wrong
        import random

        rng = random.Random(11)
        rows, vid = [], 0
        for _ in range(20):
            center = [rng.gauss(0, 1) for _ in range(64)]
            for _ in range(20):
                rows.append((vid, [x + rng.gauss(0, 0.5) for x in center]))
                vid += 1
        return spark.createDataFrame(
            rows, "vec_id bigint, embedding array<double>"
        ).cache()

    def _recall(self, exact, approx):
        e = {(r["query_id"], r["neighbor_id"]) for r in exact}
        a = {(r["query_id"], r["neighbor_id"]) for r in approx}
        return len(e & a) / len(e)

    def test_tuned_lsh_and_ivf_reach_target_on_clustered(self, spark, clustered):
        tune = S.tune_ann(clustered, "vec_id", "embedding", target_recall=0.9)
        assert tune["path"] == "lsh", tune
        probes = clustered.filter(F.col("vec_id") % 10 == 0)
        exact = S.knn_bruteforce(
            clustered, probes, "vec_id", "embedding", k=4
        ).collect()
        tuned_lsh = S.knn_lsh(
            clustered, probes, "vec_id", "embedding", k=4,
            n_tables=tune["n_tables"], n_planes=tune["n_planes"],
        ).collect()
        assert self._recall(exact, tuned_lsh) >= 0.9, tune
        tuned_ivf = S.ivf_knn(
            clustered, probes, "vec_id", "embedding", k=4,
            nprobe=tune["nprobe"], pivot_mod=tune["pivot_mod"],
        ).collect()
        assert self._recall(exact, tuned_ivf) >= 0.9, tune

    def test_default_lsh_underperforms_where_tuning_rescues(self, spark, clustered):
        # the reason the tuner exists: at this clustering level the fixed
        # defaults (4 tables x 8 planes) miss the 0.9 floor
        probes = clustered.filter(F.col("vec_id") % 10 == 0)
        exact = S.knn_bruteforce(
            clustered, probes, "vec_id", "embedding", k=4
        ).collect()
        dflt = S.knn_lsh(clustered, probes, "vec_id", "embedding", k=4).collect()
        assert self._recall(exact, dflt) < 0.9

    def test_isotropic_corpus_routes_to_int8_rerank(self, spark, embeddings):
        # the driver embeddings are isotropic (neighbor cos ~0.32): the
        # collision model should find no affordable (planes, tables) and
        # recommend the recall-guaranteed quantized-rerank path instead of
        # pretending bucketing will work
        tune = S.tune_ann(embeddings, "vec_id", "embedding", target_recall=0.9)
        assert tune["path"] == "int8_rerank", tune
        assert tune["est_neighbor_cos"] < 0.5
        assert tune["required_tables"] is None or tune["required_tables"] > 16

    def test_knn_auto_dispatches_and_meets_target(self, spark, clustered, embeddings):
        # clustered corpus -> tuned LSH, recall >= target
        probes = clustered.filter(F.col("vec_id") % 10 == 0)
        exact = S.knn_bruteforce(
            clustered, probes, "vec_id", "embedding", k=4
        ).collect()
        stats: dict = {}
        auto = S.knn_auto(
            clustered, probes, "vec_id", "embedding", k=4, stats_out=stats
        ).collect()
        assert stats["method"] == "lsh" and stats["dim"] == 64
        assert self._recall(exact, auto) >= 0.9, stats
        # isotropic corpus -> int8_rerank; spot-check shape + determinism
        iso_probes = embeddings.filter(F.col("vec_id") % 997 == 0)
        stats2: dict = {}
        out = S.knn_auto(
            embeddings, iso_probes, "vec_id", "embedding", k=3, stats_out=stats2
        )
        assert stats2["method"] == "int8_rerank"
        rows = out.collect()
        by_q = {}
        for r in rows:
            by_q.setdefault(r["query_id"], []).append(r["rank"])
        assert by_q and all(sorted(v) == [1, 2, 3] for v in by_q.values())

    def test_tiny_corpus_falls_back_conservatively(self, spark):
        few = spark.createDataFrame(
            [(1, [1.0] * 8), (2, [0.5] * 8)], "vec_id bigint, embedding array<double>"
        )
        tune = S.tune_ann(few, "vec_id", "embedding")
        assert tune["path"] == "int8_rerank" and tune["sample_size"] < 8

    def test_null_and_ragged_embeddings_tolerated(self, spark, clustered):
        # a corpus with stray NULL and wrong-length vectors must not kill
        # the tuner (the knn_* operators themselves tolerate them); bad
        # rows are excluded from the sample, the verdict is unchanged
        from pyspark.sql.types import (
            ArrayType, DoubleType, LongType, StructField, StructType,
        )

        schema = StructType([
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(DoubleType())),
        ])
        bad = spark.createDataFrame(
            [(100001, None), (100002, [1.0, 2.0]), (100003, [])], schema
        )
        mixed = clustered.select("vec_id", "embedding").unionByName(bad)
        tune = S.tune_ann(mixed, "vec_id", "embedding", target_recall=0.9)
        assert tune["path"] == "lsh" and tune["dim"] == 64, tune

    def test_ivf_nprobe_rescaled_to_real_cell_count(self, spark, clustered):
        # the sim has ~sqrt(sample) cells but the real index ~sqrt(n):
        # nprobe must be the probe FRACTION times the real cell count, not
        # the raw sim rank (which under-probes whenever n >> sample^2)
        import math

        tune = S.tune_ann(clustered, "vec_id", "embedding", sample=64)
        assert tune["ivf_probe_frac"] is not None
        m_real = max(1, round(tune["n"] / tune["pivot_mod"]))
        want = min(max(math.ceil(tune["ivf_probe_frac"] * m_real), 1), m_real)
        assert tune["nprobe"] == want, tune

    def test_bad_target_rejected(self, spark, clustered):
        with pytest.raises(ValueError, match="target_recall"):
            S.tune_ann(clustered, "vec_id", "embedding", target_recall=1.0)


class TestTextOps:
    def test_stats(self, spark, docs):
        st = {r["doc_id"]: r for r in TO.text_stats(docs, "doc_id", "text").collect()}
        assert st[1]["n_words"] == 9
        assert st[1]["n_distinct_words"] == 8  # 'the' twice
        assert st[1]["stopword_hits"] == 1  # only 'the' is in the EN list
        assert abs(st[1]["type_token_ratio"] - 8 / 9) < 1e-12

    def test_lang_id(self, spark, docs):
        langs = {r["doc_id"]: r["lang_pred"] for r in TO.detect_language(docs, "doc_id", "text").collect()}
        assert langs[1] == "en"
        assert langs[5] == "es"

    def test_token_counts(self, spark, docs):
        tc = {r["doc_id"]: r for r in TO.token_counts(docs, "doc_id", "text").collect()}
        assert tc[1]["ws_tokens"] == 9
        assert tc[2]["re_tokens"] == 10  # 9 words + '!'

    def test_fingerprint_stability(self, spark, docs):
        fp = {r["doc_id"]: r for r in TO.fingerprint(docs, "doc_id", "text").collect()}
        assert fp[1]["content_md5"] == fp[2]["content_md5"]
        assert fp[1]["min_ngram_md5"] == fp[2]["min_ngram_md5"]
        assert fp[1]["simhash"] == fp[2]["simhash"]
        assert fp[1]["content_md5"] != fp[3]["content_md5"]


    def test_long_chain_converges_via_pointer_doubling(self, spark):
        # a 60-node chain has diameter 59; naive propagation needs 59 rounds,
        # pointer doubling needs ~log2(59) ≈ 6 — max_iter=8 proves doubling
        import warnings

        pairs = spark.createDataFrame(
            [(i, i + 1, 0.9) for i in range(1, 60)],
            "id_a bigint, id_b bigint, jaccard double",
        )
        with warnings.catch_warnings():
            warnings.simplefilter("error", RuntimeWarning)
            cc = {r["node"]: r["component"]
                  for r in D.connected_components(
                      pairs, max_iter=8, driver_cap=0).collect()}
        assert set(cc.values()) == {1}
        assert len(cc) == 60

    def test_dense_cluster_skips_doubling_join(self, spark):
        # a clique converges in 2-3 plain rounds with geometrically shrinking
        # change counts — the doubling join must never engage (no checkpoint
        # RDDs created beyond what persist uses); result still exact
        pairs = spark.createDataFrame(
            [(i, j, 0.9) for i in range(1, 9) for j in range(i + 1, 9)],
            "id_a bigint, id_b bigint, jaccard double",
        )
        cc = {r["node"]: r["component"]
              for r in D.connected_components(pairs, driver_cap=0).collect()}
        assert cc == {i: 1 for i in range(1, 9)}

    def test_reliable_checkpoint_dir(self, spark, tmp_path):
        # a session checkpoint directory turns every barrier into a
        # RELIABLE checkpoint (files on disk, not executor-local blocks).
        # A long chain forces the doubling rounds; all of them write under
        # the one <dir>/<uuid> subdirectory Spark made for the context.
        import os

        ckpt = str(tmp_path / "ckpt")
        pairs = spark.createDataFrame(
            [(i, i + 1, 0.9) for i in range(1, 40)],
            "id_a bigint, id_b bigint, jaccard double",
        )
        sc = spark.sparkContext
        sc.setCheckpointDir(ckpt)
        try:
            stats = {}
            cc = {r["node"]: r["component"]
                  for r in D.connected_components(
                      pairs, driver_cap=0, stats_out=stats).collect()}
        finally:
            # the session is shared: a directory left set would turn every
            # later barrier in the run into a reliable checkpoint
            sc.setCheckpointDir(None)
        assert sc.getCheckpointDir() is None
        assert set(cc.values()) == {1} and len(cc) == 40
        assert stats["route"] == "distributed" and stats["rounds"] > 1
        assert len(os.listdir(ckpt)) == 1, os.listdir(ckpt)
        written = [
            os.path.join(root, f)
            for root, _, files in os.walk(ckpt)
            for f in files
        ]
        assert written, "reliable checkpoint wrote nothing"

    def test_driver_route_matches_distributed(self, spark):
        # adaptive routing must be invisible in the answer: the collected
        # union-find fast path and the distributed loop return identical
        # labels on a mixed graph (clusters + a chain + singleton pairs)
        import random

        rng = random.Random(7)
        pairs = []
        for base in (100, 200, 300):  # three 6-cliques
            ids = list(range(base, base + 6))
            pairs += [(a, b) for a in ids for b in ids if a < b]
        pairs += [(i, i + 1) for i in range(400, 430)]  # a chain
        pairs += [(500 + 2 * i, 501 + 2 * i) for i in range(10)]  # pair islands
        rng.shuffle(pairs)
        df = spark.createDataFrame(
            [(a, b, 1.0) for a, b in pairs],
            "id_a bigint, id_b bigint, jaccard double",
        )
        fast = {r["node"]: r["component"]
                for r in D.connected_components(df).collect()}
        dist = {r["node"]: r["component"]
                for r in D.connected_components(df, driver_cap=0).collect()}
        assert fast == dist and len(fast) == 18 + 31 + 20

    def test_nonconvergence_warns(self, spark):
        import warnings

        pairs = spark.createDataFrame(
            [(i, i + 1, 0.9) for i in range(1, 40)],
            "id_a bigint, id_b bigint, jaccard double",
        )
        with warnings.catch_warnings(record=True) as rec:
            warnings.simplefilter("always")
            D.connected_components(pairs, max_iter=1, driver_cap=0)
        assert any("did not converge" in str(w.message) for w in rec)

    def test_stats_never_name_a_doubling_round_that_never_ran(self, spark):
        # the doubling flag is read at the top of the NEXT iteration, so
        # arming it in the final permitted iteration schedules a round the
        # loop never executes — stats must report doubling_from=None then,
        # not a phantom round index > rounds
        import warnings

        pairs = spark.createDataFrame(
            [(i, i + 1, 0.9) for i in range(1, 40)],
            "id_a bigint, id_b bigint, jaccard double",
        )
        for mi in (2, 3, 15):
            stats: dict = {}
            with warnings.catch_warnings():
                warnings.simplefilter("ignore")
                D.connected_components(
                    pairs, max_iter=mi, driver_cap=0, stats_out=stats
                ).collect()
            df_from = stats.get("doubling_from")
            assert df_from is None or df_from <= stats["rounds"], stats


class TestPipelineTextOps:
    def test_ngram_duplication_profile_planted(self, spark):
        # doc 1 and 2 share one 5-gram run ("the quick brown fox jumps");
        # doc 3 is unique; doc 4 has NULL text (retained, NULL frac);
        # docs 5 and 6 are identical 3-token texts (whole-doc shingle dup)
        rows = [
            (1, "the quick brown fox jumps over a lazy dog"),
            (2, "the quick brown fox jumps into a cold river today"),
            (3, "completely different words with no overlap anywhere at all"),
            (4, None),
            (5, "tiny shared doc"),
            (6, "tiny shared doc"),
        ]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        from datacompy_spark.operators.textops import ngram_duplication_profile

        got = {
            r["doc_id"]: (r["n_grams"], r["n_dup_grams"], r["dup_frac"])
            for r in ngram_duplication_profile(df, "doc_id", "text", n=5).collect()
        }
        # doc1: 9 tokens -> 5 grams, 1 shared
        assert got[1] == (5, 1, 1 / 5)
        # doc2: 10 tokens -> 6 grams, 1 shared
        assert got[2] == (6, 1, 1 / 6)
        # doc3: 9 tokens -> 5 grams, none shared
        assert got[3] == (5, 0, 0.0)
        # NULL text: zero grams, NULL frac, row retained
        assert got[4] == (0, 0, None)
        # short docs collapse to the whole-doc shingle; identical -> dup
        assert got[5] == (1, 1, 1.0) and got[6] == (1, 1, 1.0)

    def test_fuzzy_key_match_planted(self, spark):
        from datacompy_spark.operators.dedup import fuzzy_key_match

        left = spark.createDataFrame(
            [("Acme Corporation",), ("Zeta Industries",), ("Gamma Holdings LLC",)],
            "name string",
        )
        right = spark.createDataFrame(
            [
                ("acme corporation!",),   # case/punct only -> 1.0 after normalize
                ("Zeta Industry",),       # real typo -> partial similarity
                ("Totally Different Co",),
            ],
            "cname string",
        )
        got = {
            (r["key_left"], r["key_right"]): r["jaccard"]
            for r in fuzzy_key_match(
                left, right, "name", "cname", threshold=0.5
            ).collect()
        }
        assert got[("Acme Corporation", "acme corporation!")] == 1.0
        assert 0.5 <= got[("Zeta Industries", "Zeta Industry")] < 1.0
        assert len(got) == 2  # the unrelated name pairs with nothing

    def test_fuzzy_key_match_route_invariance(self, spark):
        # forcing every pooled key through the PPJoin prefix route must
        # return exactly the direct route's pairs (both are exact by
        # construction; this pins it at the fuzzy wrapper level too)
        from datacompy_spark.operators.dedup import fuzzy_key_match

        left = spark.createDataFrame(
            [(f"item number {i} alpha beta",) for i in range(30)], "k string"
        )
        right = spark.createDataFrame(
            [(f"item number {i} alpha gamma",) for i in range(0, 30, 2)],
            "k string",
        )
        kw = dict(threshold=0.55)
        direct = {
            (r["key_left"], r["key_right"], round(r["jaccard"], 12))
            for r in fuzzy_key_match(
                left, right, "k", direct_block_cap=10_000, **kw
            ).collect()
        }
        prefix = {
            (r["key_left"], r["key_right"], round(r["jaccard"], 12))
            for r in fuzzy_key_match(
                left, right, "k", direct_block_cap=1, **kw
            ).collect()
        }
        assert direct and direct == prefix

    def test_fuzzy_key_match_null_keys_and_duplicates(self, spark):
        # NULL keys are dropped, duplicate rows collapse to the distinct
        # key domain (one mapping row per key pair, not per row pair)
        from datacompy_spark.operators.dedup import fuzzy_key_match

        left = spark.createDataFrame(
            [("same key text",), ("same key text",), (None,)], "k string"
        )
        right = spark.createDataFrame(
            [("same key text",), (None,), (None,)], "k string"
        )
        rows = fuzzy_key_match(left, right, "k", threshold=0.9).collect()
        assert len(rows) == 1 and rows[0]["jaccard"] == 1.0

    def test_scrub_pii_redacts_planted_pii(self, spark):
        rows = [
            (1, "contact me at alice@example.com or +14155551234 today"),
            (2, "served from 10.0.0.1 via https://example.com/path?q=1 ok"),
            (3, "clean text with no sensitive content at all"),
        ]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        out = {r["doc_id"]: r for r in TO.scrub_pii(df, "doc_id", "text").collect()}
        assert "<EMAIL>" in out[1]["clean_text"]
        assert "<PHONE>" in out[1]["clean_text"]
        assert "alice@example.com" not in out[1]["clean_text"]
        assert out[1]["n_redactions"] == 2
        assert "<IP>" in out[2]["clean_text"] and "<URL>" in out[2]["clean_text"]
        assert out[2]["n_redactions"] == 2
        assert out[3]["clean_text"] == rows[2][1]
        assert out[3]["n_redactions"] == 0

    def test_quality_filter_reasons(self, spark):
        rows = [
            (1, "the quick brown fox jumps over the lazy dog repeatedly"),
            (2, "hi"),                                   # too few words
            (3, "spam spam spam spam spam spam spam"),   # low diversity
            (4, "a!!! b??? c***"),                       # punctuation storm
        ]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        out = {r["doc_id"]: r for r in TO.quality_filter(df, "doc_id", "text").collect()}
        assert out[1]["keep"] and out[1]["reasons"] == ""
        assert not out[2]["keep"] and "too_few_words" in out[2]["reasons"]
        assert not out[3]["keep"] and "low_diversity" in out[3]["reasons"]
        assert not out[4]["keep"] and "high_punct" in out[4]["reasons"]

    def test_hash_split_deterministic_and_proportioned(self, spark):
        df = spark.createDataFrame([(i,) for i in range(2000)], "doc_id bigint")
        s1 = {r["doc_id"]: r["split"] for r in TO.hash_split(df, "doc_id").collect()}
        s2 = {r["doc_id"]: r["split"] for r in TO.hash_split(df, "doc_id").collect()}
        assert s1 == s2  # order/run independent
        from collections import Counter

        c = Counter(s1.values())
        assert 0.75 < c["train"] / 2000 < 0.85
        assert 0.06 < c["val"] / 2000 < 0.14
        assert 0.06 < c["test"] / 2000 < 0.14
        # a different seed reshuffles membership
        s3 = {r["doc_id"]: r["split"]
              for r in TO.hash_split(df, "doc_id", seed="split#2").collect()}
        assert s3 != s1

    def test_pack_sequences_bins_follow_running_sum(self, spark):
        rows = [(i, "w " * 100, "s0") for i in range(10)]  # 100 tokens each
        df = spark.createDataFrame(rows, "doc_id bigint, text string, source string")
        out = {r["doc_id"]: r for r in
               TO.pack_sequences(df, "doc_id", "text", "source", token_budget=250).collect()}
        # running starts: 0,100,200,300,... → bins 0,0,0,1,1,2,2,2,3,3
        assert [out[i]["bin_id"] for i in range(10)] == [0, 0, 0, 1, 1, 2, 2, 2, 3, 3]
        assert all(out[i]["n_tokens"] == 100 for i in range(10))

    def test_shuffle_partition_probe_tolerates_auto(self, spark):
        # some platforms run with spark.sql.shuffle.partitions='auto' (AQE
        # managed; this build rejects even SETTING it, so fake the getter) —
        # the partition-count probe must fall back, not raise
        class FakeConf:
            def get(self, key, default=None):
                return "auto"

        class FakeSC:
            defaultParallelism = 8

        class FakeSession:
            conf = FakeConf()
            sparkContext = FakeSC()

        assert shuffle_partition_count(FakeSession()) == 8
        assert shuffle_partition_count(spark) == int(
            spark.conf.get("spark.sql.shuffle.partitions")
        )

    def test_pack_sequences_hot_group_distributes(self, spark):
        # one group holds 97% of the corpus: the distributed prefix sum must
        # (a) still produce the exact per-group running-sum bins and (b) split
        # the hot group's cumulative window across several range partitions
        # instead of serializing it onto one task
        rows = [(i, "tok " * ((i % 7) + 1), "hot") for i in range(3000)]
        rows += [(10_000 + i, "tok " * 5, f"cold{i % 3}") for i in range(90)]
        df = spark.createDataFrame(rows, "doc_id bigint, text string, source string")
        with shuffle_partitions(spark, 8):
            out = TO.pack_sequences(df, "doc_id", "text", "source", token_budget=64)
            got = {r["doc_id"]: r["bin_id"] for r in out.collect()}
            plan = out._jdf.queryExecution().executedPlan().toString()

        # oracle: sequential per-group running sum in plain Python
        want = {}
        for grp in {r[2] for r in rows}:
            running = 0
            for i, text, g in sorted(rows):
                if g != grp:
                    continue
                n = len(text.split())
                want[i] = running // 64
                running += n
        assert got == want

        # plan shape: the cumulative window partitions by (grp, pid), so the
        # hot group is NOT a single window partition
        import re

        win_specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
        assert any("pid" in spec and "grp" in spec for spec in win_specs), plan
        # and the hot group genuinely spans >1 range partition
        from pyspark.sql import functions as F

        staged = df.selectExpr(
            "doc_id", "source as grp", "size(split(text, ' ')) as n_tokens"
        ).repartitionByRange(8, "grp", "doc_id")
        n_pids = (
            staged.withColumn("pid", F.spark_partition_id())
            .filter("grp = 'hot'")
            .select("pid")
            .distinct()
            .count()
        )
        assert n_pids > 1


class TestTableProfile:
    def test_profile_values_and_single_action(self, spark):
        from datacompy_spark.operators.profile import table_profile

        df = spark.createDataFrame(
            [(1, "a", 1.5), (2, "b", None), (2, None, 2.5), (3, "a", 0.5)],
            "id bigint, s string, v double",
        )
        rows = []
        n_jobs = jobs(spark, lambda: rows.extend(
            table_profile(df, approx_distinct=False).collect()))
        assert n_jobs <= 8  # one action, AQE may split
        out = {r["col_name"]: r for r in rows}
        assert out["id"]["n_rows"] == 4 and out["id"]["n_nulls"] == 0
        assert out["id"]["n_distinct"] == 3
        assert out["id"]["min_value"] == "1" and out["id"]["max_value"] == "3"
        assert out["s"]["n_nulls"] == 1 and out["s"]["n_distinct"] == 2
        assert out["v"]["min_value"] == "0.5" and out["v"]["max_value"] == "2.5"

    def test_approx_distinct_mode(self, spark):
        from datacompy_spark.operators.profile import table_profile

        df = spark.createDataFrame([(i,) for i in range(1000)], "id bigint")
        out = table_profile(df, approx_distinct=True).collect()[0]
        assert abs(out["n_distinct"] - 1000) / 1000 < 0.1  # HLL tolerance

    def test_default_profile_plan_has_no_expand(self, spark):
        # the DEFAULT profile must stay a single narrow aggregate pass at any
        # width: exact multi-column count_distinct plans an Expand (input
        # replicated once per distinct-agg column) — only the opt-in exact
        # mode may pay that
        from datacompy_spark.operators.profile import table_profile

        df = spark.createDataFrame(
            [(i, f"s{i}", i * 0.5, i % 7) for i in range(100)],
            "a bigint, b string, c double, d bigint",
        )
        default_plan = (
            table_profile(df)._jdf.queryExecution().executedPlan().toString()
        )
        assert "Expand" not in default_plan
        exact_plan = (
            table_profile(df, approx_distinct=False)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Expand" in exact_plan  # the cost the default avoids

    def test_schema_compare_statuses(self, spark):
        from datacompy_spark.operators.profile import schema_compare

        df1 = spark.createDataFrame([(1, "a", 2.0)], "id bigint, s string, v double")
        df2 = spark.createDataFrame([(1, 3, True)], "id bigint, v int, extra boolean")
        out = {r["col_name"]: r for r in schema_compare(df1, df2).collect()}
        assert out["id"]["status"] == "common" and not out["id"]["type_changed"]
        assert out["s"]["status"] == "df1_only" and out["s"]["dtype_2"] is None
        assert out["v"]["status"] == "common" and out["v"]["type_changed"]
        assert out["extra"]["status"] == "df2_only"
        # metadata-only: no Spark jobs were run
        assert jobs(spark, lambda: schema_compare(df1, df2)) == 0

    def test_column_quantiles_modes(self, spark):
        from datacompy_spark.operators.profile import column_quantiles

        df = spark.createDataFrame([(float(i),) for i in range(101)], "v double")
        exact = {(r["col_name"], r["prob"]): r["quantile"]
                 for r in column_quantiles(df, ["v"], approx=False).collect()}
        assert exact[("v", 0.25)] == 25.0
        assert exact[("v", 0.5)] == 50.0
        assert exact[("v", 0.75)] == 75.0
        approx = {(r["col_name"], r["prob"]): r["quantile"]
                  for r in column_quantiles(df, ["v"]).collect()}
        for key, v in approx.items():
            assert abs(v - exact[key]) <= 1.0  # sketch stays near exact

    def test_profile_compare_flags_drift(self, spark):
        from datacompy_spark.operators.profile import profile_compare

        df1 = spark.createDataFrame(
            [(i, "x" if i % 2 == 0 else None) for i in range(100)],
            "id bigint, s string",
        )
        df2 = spark.createDataFrame(
            [(i, "x") for i in range(100)], "id bigint, s string"
        )
        out = {r["col_name"]: r for r in profile_compare(df1, df2, rel_tol=0.1).collect()}
        assert out["s"]["null_rate_drifted"]      # 50% → 0% nulls
        assert not out["id"]["null_rate_drifted"]
        assert not out["id"]["distinct_drifted"]
        assert not out["id"]["range_changed"]


class TestCorpusCuration:
    def test_repetition_metrics_flags_degenerate_text(self, spark):
        rows = [
            (1, "spam spam spam spam spam spam"),            # one word repeated
            (2, "alpha beta gamma delta epsilon zeta"),      # all distinct
            (3, "go go go stop stop stop go go go end"),     # repeated trigrams
        ]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        out = {r["doc_id"]: r for r in TO.repetition_metrics(df, "doc_id", "text").collect()}
        assert out[1]["top_word_frac"] == 1.0
        assert out[1]["top_bigram_frac"] == 1.0
        assert out[1]["dup_trigram_frac"] == 1.0
        assert abs(out[2]["top_word_frac"] - 1 / 6) < 1e-12
        assert out[2]["dup_trigram_frac"] == 0.0
        # doc 3: "go go go" appears at positions 0 and 6 → duplicated trigrams
        assert out[3]["dup_trigram_frac"] > 0.0
        assert out[3]["top_word_frac"] == 0.6  # "go" 6/10

    def test_decontaminate_broadcast_overlap(self, spark):
        train = spark.createDataFrame(
            [
                (1, "one two three four five six seven"),     # shares a 5-gram run
                (2, "totally different words appear here now"),
            ],
            "doc_id bigint, text string",
        )
        eval_df = spark.createDataFrame(
            [(100, "zero one two three four five six")],
            "doc_id bigint, text string",
        )
        out = {
            r["doc_id"]: r
            for r in TO.decontaminate(train, "doc_id", "text", eval_df, k=5).collect()
        }
        # doc 1 has 3 distinct 5-grams, 2 of which appear in the eval doc
        assert out[1]["n_shingles"] == 3
        assert out[1]["n_matched"] == 2
        assert out[1]["contaminated"]
        assert out[2]["n_matched"] == 0 and not out[2]["contaminated"]

    def test_stratified_sample_deterministic_topk(self, spark):
        rows = [(i, f"s{i % 3}") for i in range(300)]
        df = spark.createDataFrame(rows, "doc_id bigint, source string")
        s1 = TO.stratified_sample(df, ["source"], "doc_id", k=7).collect()
        s2 = TO.stratified_sample(df, ["source"], "doc_id", k=7).collect()
        assert sorted(map(tuple, s1)) == sorted(map(tuple, s2))
        from collections import Counter

        per = Counter(r["source"] for r in s1)
        assert per == {"s0": 7, "s1": 7, "s2": 7}
        assert all(1 <= r["rk"] <= 7 for r in s1)
        # a different seed reshuffles the picks
        s3 = TO.stratified_sample(df, ["source"], "doc_id", k=7, seed="other").collect()
        assert {r["doc_id"] for r in s3} != {r["doc_id"] for r in s1}

    def test_dedup_verdict_survivors_and_sizes(self, spark):
        import datacompy_spark.operators.dedup as D

        comp = spark.createDataFrame(
            [(1, 1), (2, 1), (3, 3), (4, 4), (5, 4), (6, 4)],
            "doc_id bigint, component bigint",
        )
        out = {r["doc_id"]: r for r in D.dedup_verdict(comp).collect()}
        assert out[1]["is_survivor"] and out[1]["n_docs"] == 2
        assert not out[2]["is_survivor"]
        assert out[3]["is_survivor"] and out[3]["n_docs"] == 1
        assert out[4]["n_docs"] == 3 and not out[5]["is_survivor"]

    def test_label_centroids_exact_quantized_mean(self, spark):
        import datacompy_spark.operators.similarity as S

        df = spark.createDataFrame(
            [(1, [1.0, 2.0]), (1, [3.0, 4.0]), (2, [10.0, 20.0])],
            "label int, embedding array<float>",
        )
        rows = {(r["label"], r["dim_idx"]): r["centroid_val"]
                for r in S.label_centroids(df, "label", "embedding").collect()}
        assert rows[(1, 0)] == 2.0 and rows[(1, 1)] == 3.0
        assert rows[(2, 0)] == 10.0 and rows[(2, 1)] == 20.0

    def test_corpus_mix_rates_follow_weights(self, spark):
        rows = []
        i = 0
        for src, ndocs in [("a", 40), ("b", 40)]:
            for _ in range(ndocs):
                rows.append((i, src, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"))  # 10 tokens
                i += 1
        df = spark.createDataFrame(rows, "doc_id bigint, source string, text string")
        # budget 400 tokens, source b weighted 3x source a → rates 1:3
        w = F.when(F.col("source") == "b", 3.0).otherwise(1.0)
        out = TO.corpus_mix_sample(
            df, "doc_id", "source", "text", token_budget=400, weight_expr=w
        ).collect()
        rates = {r["source"]: r["rate"] for r in out}
        # a: 400*(1/4)/400 = 0.25 ; b: 400*(3/4)/400 = 0.75
        assert abs(rates["a"] - 0.25) < 1e-12 and abs(rates["b"] - 0.75) < 1e-12
        assert all(r["n_tokens"] == 10 for r in out)
        # deterministic membership across runs
        out2 = TO.corpus_mix_sample(
            df, "doc_id", "source", "text", token_budget=400, weight_expr=w
        ).collect()
        assert {(r["doc_id"], r["accepted"]) for r in out} == {
            (r["doc_id"], r["accepted"]) for r in out2
        }
        # acceptance fraction tracks the rate (md5 is uniform; 40 docs each)
        from collections import Counter

        acc = Counter((r["source"], r["accepted"]) for r in out)
        assert 0.05 <= acc[("a", True)] / 40 <= 0.5
        assert 0.55 <= acc[("b", True)] / 40 <= 0.95

    def test_corpus_mix_rate_caps_at_one(self, spark):
        df = spark.createDataFrame(
            [(1, "s", "only three tokens")], "doc_id bigint, source string, text string"
        )
        out = TO.corpus_mix_sample(df, "doc_id", "source", "text", token_budget=10**6).collect()
        assert out[0]["rate"] == 1.0 and out[0]["accepted"]

    def test_curate_corpus_verdict_branches(self, spark):
        train = spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog today"),
                (2, "The quick  brown fox jumps over the lazy dog today!"),  # dup of 1
                (3, "hi"),                                       # quality fail
                (4, "one two three four five six seven eight"),  # contaminated
                (5, "fresh unique sentence with plenty of distinct words here"),
            ],
            "doc_id bigint, text string",
        )
        eval_df = spark.createDataFrame(
            [(100, "zero one two three four five six seven")],
            "doc_id bigint, text string",
        )
        out = {
            r["doc_id"]: r
            for r in TO.curate_corpus(train, "doc_id", "text", eval_df).collect()
        }
        assert out[1]["verdict"] == "kept" and out[1]["keep"] and out[1]["split"] in {
            "train", "val", "test"
        }
        assert out[2]["verdict"] == "duplicate" and not out[2]["keep"]
        assert out[3]["verdict"] == "quality"
        assert out[4]["verdict"] == "contaminated"
        assert out[5]["verdict"] == "kept"
        assert all(out[i]["split"] is None for i in (2, 3, 4))

    def test_curate_gopher_rule_set(self, spark):
        """quality='gopher' swaps stage 1 for the Gopher bundle: these
        short synthetic docs all fail the 50-word floor, so every verdict
        is 'quality' — and an unknown rule set is rejected."""
        import pytest as _pytest

        train = spark.createDataFrame(
            [(1, "short doc one"), (2, "short doc two")],
            "doc_id bigint, text string",
        )
        eval_df = spark.createDataFrame(
            [(100, "unrelated eval text")], "doc_id bigint, text string"
        )
        out = {
            r["doc_id"]: r["verdict"]
            for r in TO.curate_corpus(
                train, "doc_id", "text", eval_df, quality="gopher"
            ).collect()
        }
        assert out == {1: "quality", 2: "quality"}
        with _pytest.raises(ValueError):
            TO.curate_corpus(train, "doc_id", "text", eval_df, quality="bogus")


class TestDegenerateDocuments:
    def test_empty_and_whitespace_docs_survive_ansi(self, spark):
        """Real corpora contain empty documents; quality stats must yield
        NULL ratios for them, not an ANSI DIVIDE_BY_ZERO crash."""
        from pyspark.sql import Row

        from datacompy_spark.operators.textops import quality_filter, text_stats

        docs = spark.createDataFrame(
            [Row(doc_id=1, text=""), Row(doc_id=2, text="   "),
             Row(doc_id=3, text="a normal document with several words here")]
        )
        stats = {r["doc_id"]: r for r in text_stats(docs, "doc_id", "text").collect()}
        assert stats[1]["punct_ratio"] is None      # 0 chars → undefined
        assert stats[2]["punct_ratio"] == 0.0       # whitespace only
        assert stats[3]["punct_ratio"] == 0.0
        q = {r["doc_id"]: r for r in quality_filter(docs, "doc_id", "text").collect()}
        assert not q[1]["keep"] and "too_few_words" in q[1]["reasons"]
        assert q[3]["keep"]


class TestZeroVectorCosine:
    def test_zero_vector_yields_null_not_crash(self, spark):
        """Zero embeddings (empty inputs, padding rows) must score NULL
        cosine, matching DuckDB's x/0.0 → NULL, not raise DIVIDE_BY_ZERO."""
        from pyspark.sql import Row

        from datacompy_spark.functions.vector import cosine

        df = spark.createDataFrame(
            [Row(a=[0.0, 0.0], b=[1.0, 1.0]), Row(a=[3.0, 4.0], b=[3.0, 4.0])],
            "a array<float>, b array<float>",
        )
        got = df.select(cosine(F.col("a"), F.col("b")).alias("c")).collect()
        assert got[0]["c"] is None
        assert got[1]["c"] == pytest.approx(1.0)


class TestCapPerGroup:
    def test_cap_semantics_and_determinism(self, spark):
        from datacompy_spark.operators.textops import cap_per_group

        df = spark.range(0, 300).select(
            F.col("id").alias("doc_id"), (F.col("id") % 3).cast("string").alias("src")
        )
        out = cap_per_group(df, "doc_id", "src", cap=7)
        rows = out.collect()
        per = {}
        for r in rows:
            per.setdefault(r["src"], []).append((r["cap_rank"], r["doc_id"]))
        assert all(len(v) == 7 for v in per.values())
        assert all(sorted(x[0] for x in v) == list(range(1, 8)) for v in per.values())
        # deterministic: same seed → same survivors; different seed → resample
        again = {r["doc_id"] for r in cap_per_group(df, "doc_id", "src", cap=7).collect()}
        assert again == {r["doc_id"] for r in rows}
        other = {
            r["doc_id"]
            for r in cap_per_group(df, "doc_id", "src", cap=7, seed="cap#2").collect()
        }
        assert other != again  # 100-from-300 lottery collision is ~impossible
        # groups under the cap survive whole
        small = cap_per_group(df.filter(F.col("doc_id") < 5), "doc_id", "src", cap=7)
        assert small.count() == 5

    def test_window_group_limit_plan(self, spark):
        """The rank filter must push into the sort (WindowGroupLimit) so a
        mega-domain never materializes per task."""
        from datacompy_spark.operators.textops import cap_per_group

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        out = cap_per_group(docs.select("doc_id", "source"), "doc_id", "source", 10)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "WindowGroupLimit" in plan

    def test_bad_cap(self, spark):
        from datacompy_spark.operators.textops import cap_per_group

        with pytest.raises(ValueError, match="cap must be positive"):
            cap_per_group(spark.range(1).withColumn("g", F.lit("a")), "id", "g", 0)

    def test_reserved_output_names_rejected(self, spark):
        from datacompy_spark.operators.textops import cap_per_group

        df = spark.range(5).select(
            F.col("id"), F.lit("a").alias("g"), F.lit(1).alias("rank")
        )
        with pytest.raises(ValueError, match="reserves column names"):
            cap_per_group(df, "id", "g", cap=2)

    def test_sibling_operators_guard_reserved_names(self, spark):
        # the same silent-replacement hazard exists in every operator that
        # preserves arbitrary caller columns while attaching internal ones —
        # all must refuse (case-insensitively) instead of destroying data
        from datacompy_spark.operators.analytics import top_k_per_group
        from datacompy_spark.operators.multimodal import bucket_by_content
        from datacompy_spark.operators.textops import stratified_sample
        from datacompy_spark.plans.partitioning import skew_salted_join

        with pytest.raises(ValueError, match="reserves"):
            top_k_per_group(
                spark.range(3).withColumn("Rank", F.lit(1)), ["id"], "Rank", 1
            )
        with pytest.raises(ValueError, match="reserves"):
            bucket_by_content(
                spark.range(3).select(
                    F.lit(b"x").alias("data"), F.lit(1).alias("__Bucket")
                ),
                "data",
            )
        left = spark.range(3).select(F.col("id").alias("k"), F.lit(0).alias("__SALT"))
        right = spark.range(3).select(F.col("id").alias("k"))
        with pytest.raises(ValueError, match="reserves"):
            skew_salted_join(left, right, "k")
        docs = spark.range(3).select(
            F.col("id").alias("doc_id"), F.lit("a").alias("RK")
        )
        with pytest.raises(ValueError, match="reserves"):
            stratified_sample(docs, ["RK"], "doc_id", 1)
        # id_col itself named 'rk': withColumn('rk', rank) would replace it
        # before the final select, silently returning ranks as doc ids
        docs2 = spark.range(3).select(
            F.col("id").alias("rk"), F.lit("a").alias("g")
        )
        with pytest.raises(ValueError, match="reserves"):
            stratified_sample(docs2, ["g"], "rk", 1)

    def test_reserved_output_names_rejected_case_insensitive(self, spark):
        # Spark's default resolver folds case: a caller column named `Rank`
        # or `CAP_RANK` would be destroyed by the internal rank machinery
        # just like a lowercase one, so the guard must fold case too
        from datacompy_spark.operators.textops import cap_per_group

        for bad in ("Rank", "CAP_RANK", "__PRI"):
            df = spark.range(5).select(
                F.col("id"), F.lit("a").alias("g"), F.lit(1).alias(bad)
            )
            with pytest.raises(ValueError, match="reserves column names"):
                cap_per_group(df, "id", "g", cap=2)


class TestIncrementalDedup:
    """incremental_dedup: batch-vs-corpus semantics, both methods."""

    @pytest.fixture()
    def split_docs(self, spark):
        # corpus: ids 10..13; batch: ids 20..25 with planted relations
        corpus = spark.createDataFrame(
            [
                (10, "the quick brown fox jumps over the lazy dog"),
                (11, "completely different corpus content about engines"),
                (12, "shared exact content lives on both sides"),
                (13, "the quick brown fox jumps over the lazy dog"),  # corpus-internal dup
            ],
            "doc_id bigint, text string",
        )
        batch = spark.createDataFrame(
            [
                (20, "Shared exact CONTENT lives on both sides!"),  # exact dup of 12
                (21, "brand new document the corpus has never seen"),
                (22, "brand new document the corpus has never seen"),  # batch-internal dup of 21
                (23, "another novel batch document entirely"),
                (24, "the quick brown fox jumps over the lazy dog"),  # dup of 10 (min) & 13
                (25, "brand NEW document the corpus has never seen"),  # normalizes to 21
            ],
            "doc_id bigint, text string",
        )
        return batch, corpus

    def test_exact_mode(self, spark, split_docs):
        batch, corpus = split_docs
        out = {
            r["doc_id"]: (r["verdict"], r["match_id"])
            for r in D.incremental_dedup(
                batch, corpus, "doc_id", "text", method="exact"
            ).collect()
        }
        assert out[20] == ("dup_corpus", 12)
        assert out[21] == ("new", None)
        assert out[22] == ("dup_batch", 21)
        assert out[23] == ("new", None)
        assert out[24] == ("dup_corpus", 10)  # min matching corpus id
        assert out[25] == ("dup_batch", 21)
        assert len(out) == 6  # one row per batch doc, no corpus rows

    def test_minhash_mode_against_union_ground_truth(self, spark, documents):
        """Minhash-mode verdicts must agree with the ground truth derived
        from minhash_lsh_pairs over the pooled corpus: a batch doc is
        dup_corpus iff the pooled pair list links it to ANY corpus doc;
        the corpus-clean remainder components follow the batch-only pairs."""
        docs = documents.select("doc_id", "text").limit(200)
        corpus = docs.filter(F.col("doc_id") % 2 == 0)
        batch = docs.filter(F.col("doc_id") % 2 == 1)
        kw = dict(num_hashes=16, bands=4, shingle_k=3, threshold=0.5)

        out = {
            r["doc_id"]: (r["verdict"], r["match_id"])
            for r in D.incremental_dedup(
                batch, corpus, "doc_id", "text", method="minhash", **kw
            ).collect()
        }
        batch_ids = {r["doc_id"] for r in batch.select("doc_id").collect()}
        assert set(out) == batch_ids

        pooled = {
            (r["id_a"], r["id_b"])
            for r in D.minhash_lsh_pairs(docs, "doc_id", "text", **kw).collect()
        }
        def is_corpus(i):
            return i % 2 == 0
        expect_dup_corpus = {}
        for a, b in pooled:
            if is_corpus(a) != is_corpus(b):
                bat, cor = (b, a) if is_corpus(a) else (a, b)
                cur = expect_dup_corpus.get(bat)
                expect_dup_corpus[bat] = cor if cur is None else min(cur, cor)
        got_dup_corpus = {
            i: m for i, (v, m) in out.items() if v == "dup_corpus"
        }
        assert got_dup_corpus == expect_dup_corpus

        # clean-side components from batch-only pairs among clean docs
        clean = batch_ids - set(expect_dup_corpus)
        parent = {i: i for i in clean}
        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x
        for a, b in pooled:
            if a in clean and b in clean:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
        for i in sorted(clean):
            root = find(i)
            if root == i:
                assert out[i] == ("new", None), i
            else:
                assert out[i] == ("dup_batch", root), i


class TestShardCorpus:
    def test_deterministic_and_dense(self, spark, documents):
        docs = documents.select("doc_id").limit(300)
        a = {(r["doc_id"]): (r["shard"], r["pos"])
             for r in TO.shard_corpus(docs, "doc_id", n_shards=8).collect()}
        # repartition perversely: assignment and order must not move
        b = {(r["doc_id"]): (r["shard"], r["pos"])
             for r in TO.shard_corpus(docs.repartition(13), "doc_id", n_shards=8).collect()}
        assert a == b
        # per-shard positions are dense 1..n
        from collections import defaultdict
        by_shard = defaultdict(list)
        for _, (s, p) in a.items():
            by_shard[s].append(p)
        for s, ps in by_shard.items():
            assert sorted(ps) == list(range(1, len(ps) + 1)), s
        # 300 uniform docs over 8 shards: no shard empty, none > 2x mean
        sizes = [len(ps) for ps in by_shard.values()]
        assert len(by_shard) == 8 and max(sizes) < 2 * (300 / 8)

    def test_seed_changes_order(self, spark, documents):
        docs = documents.select("doc_id").limit(100)
        a = {r["doc_id"]: (r["shard"], r["pos"])
             for r in TO.shard_corpus(docs, "doc_id", n_shards=4, seed="s1").collect()}
        b = {r["doc_id"]: (r["shard"], r["pos"])
             for r in TO.shard_corpus(docs, "doc_id", n_shards=4, seed="s2").collect()}
        assert a != b

    def test_rejects_bad_shards(self, spark, documents):
        with pytest.raises(ValueError):
            TO.shard_corpus(documents, "doc_id", n_shards=0)


class TestIncrementalDedupLedger:
    """Stateful ledger variant: consecutive ingests, idempotent replay."""

    def test_two_ingests_and_replay(self, spark):
        spark.sql("DROP TABLE IF EXISTS dedup_ledger_t1")
        try:
            b1 = spark.createDataFrame(
                [
                    (1, "first batch doc alpha"),
                    (2, "first batch doc alpha"),   # within-batch dup
                    (3, "first batch doc beta"),
                ],
                "doc_id bigint, text string",
            )
            v1 = {
                r["doc_id"]: (r["verdict"], r["match_id"])
                for r in D.incremental_dedup_with_ledger(
                    spark, b1, "dedup_ledger_t1", "doc_id", "text", num_buckets=4
                ).collect()
            }
            assert v1[1] == ("new", None)
            assert v1[2] == ("dup_batch", 1)
            assert v1[3] == ("new", None)
            # ledger now holds hashes for docs 1 and 3 only
            assert spark.table("dedup_ledger_t1").count() == 2

            b2 = spark.createDataFrame(
                [
                    (10, "First BATCH doc alpha!"),   # dup of ledger entry 1
                    (11, "second batch doc gamma"),
                ],
                "doc_id bigint, text string",
            )
            v2 = {
                r["doc_id"]: (r["verdict"], r["match_id"])
                for r in D.incremental_dedup_with_ledger(
                    spark, b2, "dedup_ledger_t1", "doc_id", "text", num_buckets=4
                ).collect()
            }
            assert v2[10] == ("dup_corpus", 1)
            assert v2[11] == ("new", None)
            assert spark.table("dedup_ledger_t1").count() == 3

            # replaying ingest #2 is idempotent: everything now dup_corpus
            v2r = {
                r["doc_id"]: (r["verdict"], r["match_id"])
                for r in D.incremental_dedup_with_ledger(
                    spark, b2, "dedup_ledger_t1", "doc_id", "text", num_buckets=4
                ).collect()
            }
            assert v2r[10] == ("dup_corpus", 1)
            assert v2r[11] == ("dup_corpus", 11)
            assert spark.table("dedup_ledger_t1").count() == 3  # no growth
        finally:
            spark.sql("DROP TABLE IF EXISTS dedup_ledger_t1")

    def test_string_id_first_ingest(self, spark):
        """First-ever ingest with STRING doc ids: the empty bootstrap
        ledger frame must adopt the batch id type, not hardcode bigint."""
        spark.sql("DROP TABLE IF EXISTS dedup_ledger_sid")
        try:
            b = spark.createDataFrame(
                [("a", "doc one"), ("b", "doc one"), ("c", "doc two")],
                "doc_id string, text string",
            )
            v = {
                r["doc_id"]: r["verdict"]
                for r in D.incremental_dedup_with_ledger(
                    spark, b, "dedup_ledger_sid", "doc_id", "text", num_buckets=4
                ).collect()
            }
            assert v == {"a": "new", "b": "dup_batch", "c": "new"}
        finally:
            spark.sql("DROP TABLE IF EXISTS dedup_ledger_sid")

    def test_ledger_replay_query_contract(self, spark):
        """The driver's ledger_replay query: phase replay_a must be ALL
        dup_corpus (idempotent re-ingest), and each phase's row count
        equals its batch size."""
        from datacompy_spark.queries_pipeline import q_ledger_replay

        out = q_ledger_replay(spark, "/root/testdata/sf0.001").persist()
        try:
            phases = {
                r["phase"]: (r["n"], r["n_dup_corpus"])
                for r in out.groupBy("phase")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(
                        F.when(F.col("verdict") == "dup_corpus", 1).otherwise(0)
                    ).alias("n_dup_corpus"),
                )
                .collect()
            }
            assert set(phases) == {"ingest_a", "ingest_b", "replay_a"}
            assert phases["ingest_a"][0] == phases["replay_a"][0]
            # idempotence: every replayed doc hits the ledger
            assert phases["replay_a"][1] == phases["replay_a"][0]
            # ingest_a probed an EMPTY ledger: dup_corpus impossible
            assert phases["ingest_a"][1] == 0
        finally:
            out.unpersist()


class TestSimhashNearDups:
    def test_persists_released_by_release_caches(self, spark, documents):
        # every frame the operator persists has an owner: release_caches()
        # frees them all
        from datacompy_spark import release_caches

        spark.catalog.clearCache()
        release_caches()
        D.simhash_near_dups(documents, "doc_id", "text").collect()
        release_caches()
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


class TestIncrementalMinhashLedger:
    """Near-dup state tables: consecutive ingests, idempotent replay."""

    def test_persists_released_by_release_caches(self, spark, documents):
        from datacompy_spark import release_caches

        spark.catalog.clearCache()
        release_caches()
        D.incremental_minhash_ledger(
            spark, documents, "mh_ledger_release", "doc_id", "text",
            num_buckets=4, update_ledger=False,
        ).collect()
        release_caches()
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()

    def test_near_dup_ingests_and_replay(self, spark):
        for t in ("mh_ledger_t1_bands", "mh_ledger_t1_shingles"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        base_text = "the quick brown fox jumps over the lazy dog near the river bank"
        try:
            b1 = spark.createDataFrame(
                [
                    (1, base_text),
                    (2, base_text + " today"),       # near-dup of 1
                    (3, "a completely different document about spark physical plans"),
                ],
                "doc_id bigint, text string",
            )
            v1 = {
                r["doc_id"]: (r["verdict"], r["match_id"])
                for r in D.incremental_minhash_ledger(
                    spark, b1, "mh_ledger_t1", "doc_id", "text",
                    num_buckets=4, threshold=0.5,
                ).collect()
            }
            assert v1[1] == ("new", None)
            assert v1[2] == ("dup_batch", 1)
            assert v1[3] == ("new", None)
            # state covers survivors only (docs 1 and 3), one sketch each
            assert spark.table("mh_ledger_t1_shingles").count() == 2

            b2 = spark.createDataFrame(
                [
                    (10, base_text + " yesterday"),  # near-dup of ledger doc 1
                    (11, "fresh content on watermarks and stateful streaming"),
                ],
                "doc_id bigint, text string",
            )
            v2 = {
                r["doc_id"]: (r["verdict"], r["match_id"])
                for r in D.incremental_minhash_ledger(
                    spark, b2, "mh_ledger_t1", "doc_id", "text",
                    num_buckets=4, threshold=0.5,
                ).collect()
            }
            assert v2[10] == ("dup_corpus", 1)
            assert v2[11] == ("new", None)
            assert spark.table("mh_ledger_t1_shingles").count() == 3

            # replay of ingest #2 is idempotent: everything dup_corpus,
            # no state growth
            v2r = {
                r["doc_id"]: (r["verdict"], r["match_id"])
                for r in D.incremental_minhash_ledger(
                    spark, b2, "mh_ledger_t1", "doc_id", "text",
                    num_buckets=4, threshold=0.5,
                ).collect()
            }
            assert v2r[10] == ("dup_corpus", 1)
            assert v2r[11] == ("dup_corpus", 11)
            assert spark.table("mh_ledger_t1_shingles").count() == 3
            assert spark.table("mh_ledger_t1_bands").select("doc_id").distinct().count() == 3
        finally:
            for t in ("mh_ledger_t1_bands", "mh_ledger_t1_shingles"):
                spark.sql(f"DROP TABLE IF EXISTS {t}")

    def test_read_only_mode_leaves_state_untouched(self, spark):
        for t in ("mh_ledger_ro_bands", "mh_ledger_ro_shingles"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        try:
            b1 = spark.createDataFrame(
                [(1, "some document body with enough words to shingle")],
                "doc_id bigint, text string",
            )
            D.incremental_minhash_ledger(
                spark, b1, "mh_ledger_ro", "doc_id", "text", num_buckets=4
            ).collect()
            n_bands = spark.table("mh_ledger_ro_bands").count()
            b2 = spark.createDataFrame(
                [(2, "an unrelated second document mentioning catalyst rules")],
                "doc_id bigint, text string",
            )
            v = {
                r["doc_id"]: r["verdict"]
                for r in D.incremental_minhash_ledger(
                    spark, b2, "mh_ledger_ro", "doc_id", "text",
                    num_buckets=4, update_ledger=False,
                ).collect()
            }
            assert v[2] == "new"
            assert spark.table("mh_ledger_ro_bands").count() == n_bands
        finally:
            for t in ("mh_ledger_ro_bands", "mh_ledger_ro_shingles"):
                spark.sql(f"DROP TABLE IF EXISTS {t}")

    def test_read_only_probe(self, spark):
        spark.sql("DROP TABLE IF EXISTS dedup_ledger_t2")
        try:
            b = spark.createDataFrame(
                [(1, "doc one"), (2, "doc two")], "doc_id bigint, text string"
            )
            out = D.incremental_dedup_with_ledger(
                spark, b, "dedup_ledger_t2", "doc_id", "text",
                update_ledger=False,
            )
            assert {r["verdict"] for r in out.collect()} == {"new"}
            assert not spark.catalog.tableExists("dedup_ledger_t2")
        finally:
            spark.sql("DROP TABLE IF EXISTS dedup_ledger_t2")

    @pytest.mark.parametrize("method", ["exact", "minhash"])
    def test_orphaned_location_raises_named_error(self, spark, method):
        """A ledger directory left in the warehouse without its catalog
        entry (an in-memory catalog died with its session) is reported by
        name, with the directory and the fix, not as a bare Spark error."""
        import os
        import shutil

        table = f"orphan_ledger_{method}"
        written = table if method == "exact" else f"{table}_bands"
        warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        orphan = os.path.join(warehouse, written)
        os.makedirs(orphan)
        open(os.path.join(orphan, "part-00000"), "w").close()
        batch = spark.createDataFrame(
            [(1, "a document body for an orphaned ledger")],
            "doc_id bigint, text string",
        )
        op = (
            D.incremental_dedup_with_ledger
            if method == "exact"
            else D.incremental_minhash_ledger
        )
        try:
            with pytest.raises(D.LedgerLocationError) as err:
                op(spark, batch, table, "doc_id", "text", num_buckets=4)
        finally:
            shutil.rmtree(orphan)
            spark.sql(f"DROP TABLE IF EXISTS {table}_shingles")
        assert err.value.table == written
        msg = str(err.value)
        assert written in msg and orphan in msg
        assert "Remove the directory" in msg and "register a table" in msg

    def test_orphaned_shingles_location_blocks_bands_write(self, spark):
        """An orphan under the shingles table alone is caught before the
        bands table is written: no half-written ledger is left behind."""
        import os
        import shutil

        prefix = "orphan_ledger_shingles_only"
        warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        orphan = os.path.join(warehouse, f"{prefix}_shingles")
        os.makedirs(orphan)
        open(os.path.join(orphan, "part-00000"), "w").close()
        batch = spark.createDataFrame(
            [(1, "a document body for an orphaned shingles ledger")],
            "doc_id bigint, text string",
        )
        try:
            with pytest.raises(D.LedgerLocationError) as err:
                D.incremental_minhash_ledger(
                    spark, batch, prefix, "doc_id", "text", num_buckets=4
                )
            assert err.value.table == f"{prefix}_shingles"
            assert orphan in str(err.value)
            assert not spark.catalog.tableExists(f"{prefix}_bands")
        finally:
            shutil.rmtree(orphan)
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_bands")


class TestWeightedSample:
    def test_deterministic_across_layouts(self, spark):
        df = spark.createDataFrame(
            [(i, float(1 + i % 5)) for i in range(200)], "doc_id bigint, w double"
        )
        s1 = sorted(
            r["doc_id"]
            for r in TO.weighted_sample(df.repartition(1), "doc_id", "w", 20).collect()
        )
        s7 = sorted(
            r["doc_id"]
            for r in TO.weighted_sample(df.repartition(7), "doc_id", "w", 20).collect()
        )
        assert s1 == s7 and len(s1) == 20

    def test_weights_bias_inclusion(self, spark):
        # one heavy doc (weight 10000) among 99 light (weight 1): across
        # seeds it must appear in a 10-of-100 sample almost always
        rows = [(0, 10000.0)] + [(i, 1.0) for i in range(1, 100)]
        df = spark.createDataFrame(rows, "doc_id bigint, w double")
        hits = sum(
            any(
                r["doc_id"] == 0
                for r in TO.weighted_sample(df, "doc_id", "w", 10, seed=str(s)).collect()
            )
            for s in range(20)
        )
        assert hits >= 19

    def test_nonpositive_weights_excluded_and_n_overflow(self, spark):
        df = spark.createDataFrame(
            [(1, 2.0), (2, 0.0), (3, -1.0), (4, None), (5, 1.0)],
            "doc_id bigint, w double",
        )
        got = sorted(
            r["doc_id"] for r in TO.weighted_sample(df, "doc_id", "w", 10).collect()
        )
        assert got == [1, 5]
        with pytest.raises(ValueError):
            TO.weighted_sample(df, "doc_id", "w", 0)

    def test_seed_changes_sample(self, spark):
        df = spark.createDataFrame(
            [(i, 1.0) for i in range(300)], "doc_id bigint, w double"
        )
        a = {r["doc_id"] for r in TO.weighted_sample(df, "doc_id", "w", 30, seed="a").collect()}
        b = {r["doc_id"] for r in TO.weighted_sample(df, "doc_id", "w", 30, seed="b").collect()}
        assert a != b and len(a) == len(b) == 30


class TestStripHtml:
    def test_tags_scripts_entities(self, spark):
        html = (
            "<html><head><script>if (a < b) { alert('x'); }</script>"
            "<style>body { margin: 0 }</style></head>"
            "<!-- comment\nspanning lines --><body>"
            "<h1 class=\"t\">Hello &amp; welcome</h1>"
            "<p>1 &lt; 2 &gt; 0,&nbsp;&quot;quoted&quot; &#39;q&#39;</p>"
            "</body></html>"
        )
        df = spark.createDataFrame([(1, html)], "doc_id bigint, html string")
        r = TO.strip_html(df, "doc_id", "html").collect()[0]
        assert r["text"] == "Hello & welcome 1 < 2 > 0, \"quoted\" 'q'"

    def test_null_and_plain_text(self, spark):
        df = spark.createDataFrame(
            [(1, None), (2, "no   markup\n\nat all")],
            "doc_id bigint, html string",
        )
        out = {r["doc_id"]: r["text"] for r in TO.strip_html(df, "doc_id", "html").collect()}
        assert out[1] is None
        assert out[2] == "no markup at all"

    def test_double_encoded_amp_decodes_one_level(self, spark):
        df = spark.createDataFrame(
            [(1, "<p>&amp;lt;tag&amp;gt;</p>")], "doc_id bigint, html string"
        )
        r = TO.strip_html(df, "doc_id", "html").collect()[0]
        # &amp; decodes last -> one decode level, no tag resurrection
        assert r["text"] == "&lt;tag&gt;"


class TestVocabCoverage:
    def test_oov_counts_and_null_doc(self, spark):
        docs = spark.createDataFrame(
            [
                (1, "alpha beta gamma"),        # all known
                (2, "alpha qwerty zxcvb zxcvb"),  # 3 oov tokens, 2 distinct
                (3, None),                       # NULL text retained
                (4, "!!! ..."),                  # punctuation-only: 0 tokens
            ],
            "doc_id bigint, text string",
        )
        vocab = spark.createDataFrame(
            [("alpha",), ("beta",), ("gamma",), (None,)], "token string"
        )
        out = {
            r["doc_id"]: r
            for r in TO.vocab_coverage(docs, "doc_id", "text", vocab).collect()
        }
        assert out[1]["n_oov"] == 0 and out[1]["oov_rate"] == 0.0
        assert out[2]["n_tokens"] == 4 and out[2]["n_oov"] == 3
        assert out[2]["n_distinct_oov"] == 2
        assert out[2]["oov_rate"] == pytest.approx(3 / 4)
        assert out[3]["n_tokens"] == 0 and out[3]["oov_rate"] is None
        # the tokenizer's phantom '' token must NOT read as 100% OOV
        assert out[4]["n_tokens"] == 0 and out[4]["oov_rate"] is None

    def test_normalization_matches_tokenizer(self, spark):
        # vocab lookup happens on the NORMALIZED token form: "Alpha!" in a
        # doc matches vocab entry "alpha"
        docs = spark.createDataFrame(
            [(1, "Alpha, BETA?")], "doc_id bigint, text string"
        )
        vocab = spark.createDataFrame([("alpha",), ("beta",)], "token string")
        r = TO.vocab_coverage(docs, "doc_id", "text", vocab).collect()[0]
        assert r["n_oov"] == 0


class TestSemanticDecontaminate:
    def test_exact_leak_flagged_background_not(self, spark):
        from datacompy_spark.operators.similarity import semantic_decontaminate

        corpus = spark.createDataFrame(
            [
                (1, [1.0, 0.0, 0.0]),   # exact copy of eval vec -> cos 1.0
                (2, [0.0, 1.0, 0.0]),   # orthogonal -> cos 0.0
                (3, [1.0, 1.0, 0.0]),   # 45 deg -> cos ~0.707
                (4, None),              # NULL vector: NULL score, not flagged
            ],
            "vec_id bigint, embedding array<double>",
        )
        eval_df = spark.createDataFrame(
            [(100, [1.0, 0.0, 0.0])], "eid bigint, embedding array<double>"
        )
        out = {
            r["vec_id"]: r
            for r in semantic_decontaminate(
                corpus, "vec_id", "embedding", eval_df, threshold=0.9
            ).collect()
        }
        assert len(out) == 4
        assert out[1]["max_eval_cosine"] == pytest.approx(1.0)
        assert out[1]["contaminated"]
        assert out[2]["max_eval_cosine"] == pytest.approx(0.0)
        assert not out[2]["contaminated"]
        assert out[3]["max_eval_cosine"] == pytest.approx(0.7071, abs=1e-3)
        assert not out[3]["contaminated"]
        assert out[4]["max_eval_cosine"] is None
        assert out[4]["contaminated"] is False

    def test_empty_eval_set_keeps_corpus(self, spark):
        from datacompy_spark.operators.similarity import semantic_decontaminate

        corpus = spark.createDataFrame(
            [(1, [1.0, 0.0])], "vec_id bigint, embedding array<double>"
        )
        eval_df = spark.createDataFrame(
            [], "eid bigint, embedding array<double>"
        )
        out = semantic_decontaminate(
            corpus, "vec_id", "embedding", eval_df
        ).collect()
        assert len(out) == 1
        assert out[0]["max_eval_cosine"] is None
        assert out[0]["contaminated"] is False

    def test_max_over_multiple_eval_vectors(self, spark):
        from datacompy_spark.operators.similarity import semantic_decontaminate

        corpus = spark.createDataFrame(
            [(1, [3.0, 4.0])], "vec_id bigint, embedding array<double>"
        )
        eval_df = spark.createDataFrame(
            [(1, [0.0, 1.0]), (2, [1.0, 0.0]), (3, None)],
            "eid bigint, embedding array<double>",
        )
        r = semantic_decontaminate(
            corpus, "vec_id", "embedding", eval_df, threshold=0.75
        ).collect()[0]
        # cos to (0,1) = 0.8, to (1,0) = 0.6; NULL eval vec is skipped
        assert r["max_eval_cosine"] == pytest.approx(0.8)
        assert r["contaminated"]

    def test_eval_matrix_shipped_as_one_broadcast(self, spark, monkeypatch):
        import numpy as np
        from pyspark import SparkContext

        from datacompy_spark.operators.similarity import semantic_decontaminate

        shipped = []
        real = SparkContext.broadcast

        def recording(sc, value):
            shipped.append(value)
            return real(sc, value)

        monkeypatch.setattr(SparkContext, "broadcast", recording)
        corpus = spark.createDataFrame(
            [(i, [float(i), 1.0, 0.0]) for i in range(6)],
            "vec_id bigint, embedding array<double>",
        ).repartition(3)
        eval_df = spark.createDataFrame(
            [(1, [1.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0])],
            "eid bigint, embedding array<double>",
        )
        out = semantic_decontaminate(corpus, "vec_id", "embedding", eval_df).collect()
        assert len(out) == 6
        assert len(shipped) == 1
        assert isinstance(shipped[0], np.ndarray) and shipped[0].shape == (2, 3)

    @pytest.mark.parametrize(
        "bad", [[1.0, 0.0, 0.0], [1.0, None]], ids=["ragged", "null_element"]
    )
    def test_bad_eval_vector_raises_on_driver(self, spark, bad):
        from datacompy_spark.operators.similarity import semantic_decontaminate

        corpus = spark.createDataFrame(
            [(1, [3.0, 4.0])], "vec_id bigint, embedding array<double>"
        )
        eval_df = spark.createDataFrame(
            [(1, [0.0, 1.0]), (2, bad)], "eid bigint, embedding array<double>"
        )
        # raised while the plan is built, before any corpus task runs
        with pytest.raises(ValueError, match="eval vectors must share one length"):
            semantic_decontaminate(corpus, "vec_id", "embedding", eval_df)

    @pytest.mark.parametrize(
        "bad", [[1.0, 0.0, 0.0], [1.0, None]], ids=["ragged", "null_element"]
    )
    def test_bad_corpus_vector_names_ids_and_dimension(self, spark, bad):
        from datacompy_spark.operators.similarity import semantic_decontaminate

        corpus = spark.createDataFrame(
            [(1, [3.0, 4.0]), (7, bad), (2, None), (8, [0.0, 1.0])],
            "vec_id bigint, embedding array<double>",
        ).coalesce(1)
        eval_df = spark.createDataFrame(
            [(1, [0.0, 1.0])], "eid bigint, embedding array<double>"
        )
        out = semantic_decontaminate(corpus, "vec_id", "embedding", eval_df)
        with pytest.raises(Exception) as err:
            out.collect()
        msg = str(err.value)
        assert "ValueError" in msg
        assert "must have 2 non-null elements" in msg
        assert "first offending vec_id values: [7]" in msg


class TestRemoveDupSpans:
    def test_later_copy_cut_first_kept(self, spark):
        # docs 1 and 2 share the 5-token run "the quick brown fox jumps";
        # doc 1 holds the globally first occurrence and keeps it, doc 2
        # loses exactly those 5 tokens
        df = spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over a lazy dog"),
                (2, "intro words the quick brown fox jumps tail"),
                (3, "completely different words with no overlap anywhere"),
            ],
            "doc_id bigint, text string",
        )
        out = {
            r["doc_id"]: r
            for r in TO.remove_dup_spans(df, "doc_id", "text", n=5).collect()
        }
        assert out[1]["text"] == "the quick brown fox jumps over a lazy dog"
        assert out[1]["n_removed"] == 0
        assert out[2]["text"] == "intro words tail"
        assert out[2]["n_tokens"] == 8 and out[2]["n_removed"] == 5
        assert out[3]["n_removed"] == 0

    def test_overlapping_run_fully_covered(self, spark):
        # a shared 6-token run produces two overlapping dup 5-grams in the
        # later doc; the coverage window must cut all 6 tokens, not 5+5=10
        # or a double-counted middle
        df = spark.createDataFrame(
            [
                (1, "one two three four five six"),
                (2, "x one two three four five six y"),
            ],
            "doc_id bigint, text string",
        )
        out = {
            r["doc_id"]: r
            for r in TO.remove_dup_spans(df, "doc_id", "text", n=5).collect()
        }
        assert out[1]["n_removed"] == 0
        assert out[2]["text"] == "x y"
        assert out[2]["n_removed"] == 6

    def test_null_short_and_fully_dup_docs(self, spark):
        df = spark.createDataFrame(
            [
                (1, "alpha beta gamma delta epsilon"),
                (2, "alpha beta gamma delta epsilon"),  # later copy -> ''
                (3, None),  # NULL text: retained, NULL out
                (4, "too short"),  # < n tokens: no grams, untouched
            ],
            "doc_id bigint, text string",
        )
        out = {
            r["doc_id"]: r
            for r in TO.remove_dup_spans(df, "doc_id", "text", n=5).collect()
        }
        assert len(out) == 4
        assert out[1]["text"] == "alpha beta gamma delta epsilon"
        assert out[2]["text"] == "" and out[2]["n_removed"] == 5
        assert out[3]["text"] is None and out[3]["n_tokens"] == 0
        assert out[4]["text"] == "too short" and out[4]["n_removed"] == 0

    def test_within_doc_second_copy_of_dup_gram_cut(self, spark):
        # the shared gram also repeats WITHIN doc 1: only its globally
        # first occurrence survives anywhere
        df = spark.createDataFrame(
            [
                (1, "a b c d e pad a b c d e"),
                (2, "z a b c d e z"),
            ],
            "doc_id bigint, text string",
        )
        out = {
            r["doc_id"]: r
            for r in TO.remove_dup_spans(df, "doc_id", "text", n=5).collect()
        }
        assert out[1]["text"] == "a b c d e pad"
        assert out[1]["n_removed"] == 5
        assert out[2]["text"] == "z z"


class TestLineDedup:
    def test_boilerplate_dropped_first_kept(self, spark):
        df = spark.createDataFrame(
            [
                (1, "COOKIE BANNER\nunique content one\nfooter text"),
                (2, "COOKIE BANNER\nunique content two\nfooter text"),
                (3, "cookie banner!\nunique content three"),  # normalizes same
            ],
            "doc_id bigint, text string",
        )
        out = {r["doc_id"]: r for r in TO.line_dedup(df, "doc_id", "text").collect()}
        assert out[1]["text"] == "COOKIE BANNER\nunique content one\nfooter text"
        assert out[1]["n_lines"] == 3 and out[1]["n_kept"] == 3
        assert out[2]["text"] == "unique content two"
        assert out[2]["n_lines"] == 3 and out[2]["n_kept"] == 1
        assert out[3]["text"] == "unique content three"

    def test_all_duplicate_doc_becomes_empty(self, spark):
        df = spark.createDataFrame(
            [(1, "same line"), (2, "same line"), (3, "Same LINE")],
            "doc_id bigint, text string",
        )
        out = {r["doc_id"]: r["text"] for r in TO.line_dedup(df, "doc_id", "text").collect()}
        assert out[1] == "same line" and out[2] == "" and out[3] == ""

    def test_custom_delimiter_is_literal(self, spark):
        # '|' is a regex alternation char — the operator must treat it
        # literally (matching the SQL twin's literal string_split)
        df = spark.createDataFrame(
            [(1, "a|b|c"), (2, "b|x")], "doc_id bigint, text string"
        )
        out = {r["doc_id"]: r["text"]
               for r in TO.line_dedup(df, "doc_id", "text", delimiter="|").collect()}
        assert out[1] == "a|b|c" and out[2] == "x"


class TestParseJsonFields:
    def test_typed_extraction_and_malformed(self, spark):
        from datacompy_spark.operators.analytics import parse_json_fields

        df = spark.createDataFrame(
            [
                (1, '{"k": 7, "tag": "a", "score": 1.5}'),
                (2, '{"k": "12"}'),          # string-typed number: NULL, not coerced
                (3, '{"tag": "b"}'),          # missing k -> NULL
                (4, "not json at all"),       # malformed -> NULLs
                (5, None),                    # NULL json -> NULLs
                (6, "{}"),                    # valid but empty
            ],
            "id bigint, props string",
        )
        out = {
            r["id"]: (r["k"], r["tag"], r["score"])
            for r in parse_json_fields(
                df, "props",
                [("k", "bigint"), ("tag", "string"), ("score", "double")],
            ).collect()
        }
        assert out[1] == (7, "a", 1.5)
        assert out[2] == (None, None, None)  # JSON-string "12" is not a bigint
        assert out[3] == (None, "b", None)
        assert out[4] == (None, None, None)
        assert out[5] == (None, None, None)
        assert out[6] == (None, None, None)

    def test_drop_invalid_keeps_empty_object_and_null(self, spark):
        from datacompy_spark.operators.analytics import parse_json_fields

        df = spark.createDataFrame(
            [(1, '{"k": 1}'), (2, "garbage"), (3, "{}"), (4, None)],
            "id bigint, props string",
        )
        kept = {
            r["id"]
            for r in parse_json_fields(
                df, "props", [("k", "bigint")], keep_invalid=False
            ).collect()
        }
        # garbage dropped; {} is VALID (empty) and NULL input stays
        assert kept == {1, 3, 4}


class TestJsonKeyProfile:
    def test_counts_and_ranges(self, spark):
        from datacompy_spark.operators.analytics import json_key_profile

        df = spark.createDataFrame(
            [
                ('{"a": 1, "b": "x"}',),
                ('{"a": 2}',),
                ('{"a": 1, "c": true}',),
                ("bad json",),
                (None,),
            ],
            "props string",
        )
        out = {r["key"]: r for r in json_key_profile(df, "props").collect()}
        assert set(out) == {"a", "b", "c"}
        assert out["a"]["n_rows"] == 3 and out["a"]["n_values"] == 2
        assert out["a"]["min_value"] == "1" and out["a"]["max_value"] == "2"
        assert out["b"]["n_rows"] == 1 and out["b"]["min_value"] == "x"
        assert out["c"]["min_value"] == "true"


class TestNullTextHandling:
    """NULL-text rows must never silently vanish from dedup outputs: a
    NULL equi-join key drops the row, so content hashing folds NULL into
    a sentinel group (one content class, like exact_dedup's groupBy)."""

    def test_incremental_exact_null_batch_and_corpus(self, spark):
        corpus = spark.createDataFrame(
            [(1, "real corpus doc"), (2, None)], "doc_id bigint, text string"
        )
        batch = spark.createDataFrame(
            [(10, None), (11, None), (12, "fresh doc")],
            "doc_id bigint, text string",
        )
        out = {
            r["doc_id"]: (r["verdict"], r["match_id"])
            for r in D.incremental_dedup(
                batch, corpus, "doc_id", "text", method="exact"
            ).collect()
        }
        assert len(out) == 3  # nothing vanished
        assert out[10] == ("dup_corpus", 2)
        assert out[11] == ("dup_corpus", 2)
        assert out[12] == ("new", None)

    def test_incremental_exact_null_batch_only(self, spark):
        corpus = spark.createDataFrame(
            [(1, "real corpus doc")], "doc_id bigint, text string"
        )
        batch = spark.createDataFrame(
            [(10, None), (11, None)], "doc_id bigint, text string"
        )
        out = {
            r["doc_id"]: (r["verdict"], r["match_id"])
            for r in D.incremental_dedup(
                batch, corpus, "doc_id", "text", method="exact"
            ).collect()
        }
        assert out[10] == ("new", None)
        assert out[11] == ("dup_batch", 10)

    def test_line_dedup_null_text_doc_present(self, spark):
        df = spark.createDataFrame(
            [(1, "a line"), (2, None)], "doc_id bigint, text string"
        )
        out = {r["doc_id"]: r for r in TO.line_dedup(df, "doc_id", "text").collect()}
        assert set(out) == {1, 2}
        assert out[2]["text"] == "" and out[2]["n_lines"] == 1

    def test_streaming_incremental_batch_twin_null_text(self, spark):
        from datacompy_spark.streaming import drift as SD

        corpus = spark.createDataFrame(
            [(1, None)], "doc_id bigint, text string"
        )
        import datetime as dt

        t0 = dt.datetime(2026, 1, 1)
        batch = spark.createDataFrame(
            [(10, None, t0), (11, "real", t0)],
            "doc_id bigint, text string, ts timestamp",
        )
        got = {
            r["doc_id"]
            for r in SD.streaming_incremental_dedup(
                batch, corpus, "doc_id", "text", "ts"
            ).collect()
        }
        # NULL-text doc matches the corpus's NULL-text entry and dies
        assert got == {11}


class TestFileLayoutProfile:
    def test_matches_duckdb_on_real_testdata(self, spark, sf_dir):
        """Cross-engine check in pytest (the driver's oracle harness only
        pre-registers table VIEWS, so a path-parameterized query cannot
        ride it): byte counts from Spark's binaryFile listing must equal
        DuckDB's read_blob sizes for every testdata table."""
        import duckdb

        from datacompy_spark.operators.profile import (
            file_layout_profile,
            file_layout_profile_sql,
        )

        tables = {
            t: f"{sf_dir}/{t}.parquet"
            for t in ("lineitem", "orders", "documents", "embeddings")
        }
        got = {
            r["table_name"]: (
                r["n_files"], r["total_bytes"], r["max_file_bytes"], r["n_small_files"]
            )
            for r in file_layout_profile(spark, tables).collect()
        }
        want_df = duckdb.sql(file_layout_profile_sql(tables)).df()
        want = {
            r.table_name: (
                int(r.n_files), int(r.total_bytes),
                int(r.max_file_bytes), int(r.n_small_files),
            )
            for r in want_df.itertuples()
        }
        assert got == want
        assert all(v[0] >= 1 for v in got.values())
        # testdata files are all < 128 MB -> every file counts as small
        assert all(v[3] == v[0] for v in got.values())

    def test_content_column_pruned_from_plan(self, spark, sf_dir):
        """The operator's metadata-only claim: the binaryFile scan must not
        read file CONTENT — ReadSchema carries only path/length columns."""
        from datacompy_spark.operators.profile import file_layout_profile

        df = file_layout_profile(spark, {"lineitem": f"{sf_dir}/lineitem.parquet"})
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "content" not in plan, plan[:800]


class TestCompactFiles:
    def test_fragmented_input_compacts_to_planned_count(self, spark, tmp_path):
        from datacompy_spark.operators.profile import compact_files

        src = str(tmp_path / "fragmented")
        dst = str(tmp_path / "compacted")
        spark.range(0, 10_000).selectExpr(
            "id", "id % 97 AS k", "repeat('x', 64) AS pad"
        ).repartition(40).write.parquet(src)
        before = spark.read.format("binaryFile").load(src).count()
        assert before == 40
        total = sum(
            r["length"]
            for r in spark.read.format("binaryFile").load(src).select("length").collect()
        )
        # target ~1/4 of the data -> exactly 4 planned files
        summary = compact_files(
            spark, src, dst, target_file_bytes=(total + 3) // 4
        )
        assert summary["files_before"] == 40
        assert summary["files_planned"] == 4
        assert summary["files_written"] == 4
        # rewrite is lossless
        assert spark.read.parquet(dst).count() == 10_000
        assert (
            spark.read.parquet(dst).selectExpr("sum(id)").first()[0]
            == spark.read.parquet(src).selectExpr("sum(id)").first()[0]
        )

    def test_sort_by_gives_disjoint_file_ranges(self, spark, tmp_path):
        from datacompy_spark.operators.profile import compact_files

        src = str(tmp_path / "frag2")
        dst = str(tmp_path / "sorted")
        spark.range(0, 8_000).selectExpr(
            "id", "repeat('y', 64) AS pad"
        ).repartition(16).write.parquet(src)
        total = sum(
            r["length"]
            for r in spark.read.format("binaryFile").load(src).select("length").collect()
        )
        compact_files(
            spark, src, dst, target_file_bytes=(total + 3) // 4, sort_by=["id"]
        )
        # range partitioning + in-file sort -> per-file id ranges are
        # disjoint (the min/max-pruning layout)
        import pyspark.sql.functions as _F

        spans = (
            spark.read.parquet(dst)
            .select("id", _F.input_file_name().alias("f"))
            .groupBy("f")
            .agg(_F.min("id").alias("lo"), _F.max("id").alias("hi"))
            .orderBy("lo")
            .collect()
        )
        assert len(spans) >= 2
        for a, b in zip(spans, spans[1:]):
            assert a["hi"] < b["lo"]


class TestRollingAnomaly:
    def test_planted_spike_scores_high(self, spark):
        from datacompy_spark.operators.analytics import rolling_anomaly
        import datetime as dt

        base = dt.datetime(2026, 1, 1)
        rows = []
        eid = 0
        # 30 hourly buckets of 10 events, then one bucket of 100
        for h in range(30):
            n = 100 if h == 29 else 10
            for _ in range(n):
                rows.append((eid, "click", base + dt.timedelta(hours=h)))
                eid += 1
        df = spark.createDataFrame(rows, "event_id bigint, event_type string, ts timestamp")
        out = {
            r["bucket"]: r
            for r in rolling_anomaly(
                df, "ts", ["event_type"], bucket_seconds=3600,
                trailing=24, min_history=6,
            ).collect()
        }
        buckets = sorted(out)
        # warmup buckets: no score until min_history, and a constant feed
        # has zero variance -> NULL all the way until the spike
        assert all(out[b]["zscore"] is None for b in buckets[:-1])
        spike = out[buckets[-1]]
        assert spike["n_events"] == 100 and spike["n_history"] == 24
        # constant history has zero variance... the spike bucket's HISTORY
        # is the 24 buckets before it (all 10s) -> variance 0 -> NULL too?
        # No: zero-variance history yields NULL by design; plant variance
        # instead below.

    def test_variance_history_scores_spike(self, spark):
        from datacompy_spark.operators.analytics import rolling_anomaly
        import datetime as dt

        base = dt.datetime(2026, 1, 1)
        rows, eid = [], 0
        # alternating 9/11 history (mean 10, var 1), then a 20-event spike
        for h in range(25):
            n = 20 if h == 24 else (9 if h % 2 == 0 else 11)
            for _ in range(n):
                rows.append((eid, "click", base + dt.timedelta(hours=h)))
                eid += 1
        df = spark.createDataFrame(rows, "event_id bigint, event_type string, ts timestamp")
        out = sorted(
            rolling_anomaly(
                df, "ts", ["event_type"], bucket_seconds=3600,
                trailing=24, min_history=6,
            ).collect(),
            key=lambda r: r["bucket"],
        )
        spike = out[-1]
        assert spike["n_events"] == 20
        # history: 24 buckets alternating 9/11 -> mean 10, pop var 1 -> z = 10
        assert spike["zscore"] == pytest.approx(10.0)
        # zero-variance guard never fires here after warmup EXCEPT where
        # history variance is zero; mid-series scores exist
        scored = [r for r in out if r["zscore"] is not None]
        assert len(scored) >= 2


class TestTransitionMatrix:
    def test_known_paths(self, spark):
        from datacompy_spark.operators.analytics import transition_matrix
        import datetime as dt

        t = lambda s: dt.datetime(2026, 1, 1, 0, 0, s)  # noqa: E731
        rows = [
            (1, "view", t(0), 1), (1, "click", t(1), 2), (1, "buy", t(2), 3),
            (2, "view", t(0), 4), (2, "click", t(1), 5),
            (3, "view", t(0), 6), (3, "view", t(1), 7),
        ]
        df = spark.createDataFrame(
            rows, "user_id bigint, event_type string, ts timestamp, event_id bigint"
        )
        out = {
            (r["from_type"], r["to_type"]): (r["n_steps"], r["n_from"], r["p_transition"])
            for r in transition_matrix(
                df, "user_id", "event_type", "ts", tiebreak="event_id"
            ).collect()
        }
        assert out[("view", "click")] == (2, 3, pytest.approx(2 / 3))
        assert out[("view", "view")] == (1, 3, pytest.approx(1 / 3))
        assert out[("click", "buy")] == (1, 1, pytest.approx(1.0))
        assert ("buy", "view") not in out  # path ends; no wraparound

    def test_tiebreak_totalizes_order(self, spark):
        from datacompy_spark.operators.analytics import transition_matrix
        import datetime as dt

        t0 = dt.datetime(2026, 1, 1)
        rows = [(1, "a", t0, 10), (1, "b", t0, 11)]  # SAME timestamp
        df = spark.createDataFrame(
            rows, "user_id bigint, event_type string, ts timestamp, event_id bigint"
        )
        out = {
            (r["from_type"], r["to_type"])
            for r in transition_matrix(
                df, "user_id", "event_type", "ts", tiebreak="event_id"
            ).collect()
        }
        assert out == {("a", "b")}  # event_id order, deterministically


class TestNormalizeCorpus:
    def test_nfc_composes_and_cleans(self, spark):
        from datacompy_spark.operators.textops import normalize_corpus

        rows = [
            (0, "Café  du\tMonde "),  # decomposed é, runs of ws
            (1, "UPPER Case"),
            (2, "ＡＢＣ ﬁn École"),  # fullwidth + ligature survive NFC
            (3, None),  # NULL passes through, never dropped
        ]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        got = {
            r["doc_id"]: r["norm_text"]
            for r in normalize_corpus(df).collect()
        }
        assert got[0] == "café du monde"  # composed, collapsed, trimmed
        assert got[1] == "upper case"
        # NFC (unlike NFKC) preserves compatibility forms; lower() still maps
        assert got[2] == "ａｂｃ ﬁn école"
        assert got[3] is None
        assert len(got) == 4

    def test_spark_output_equals_duckdb_twin(self, spark):
        """The planted-mess oracle at sf0.01 pins this cross-engine; this is
        the minimal in-suite pin so a unicodedata/utf8proc drift shows up in
        pytest, not only in the round sweep."""
        import duckdb

        from datacompy_spark.functions.text import unicode_clean_sql
        from datacompy_spark.operators.textops import normalize_corpus

        texts = ["Café\t x", "ÉCOLE  ﬁn", "ＡＢＣ des"]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
        )
        got = [
            r["norm_text"]
            for r in normalize_corpus(df).orderBy("doc_id").collect()
        ]
        con = duckdb.connect()
        want = [
            con.execute(
                f"SELECT {unicode_clean_sql('?')}", [t]
            ).fetchone()[0]
            for t in texts
        ]
        assert got == want


class TestLeakageSafeSplit:
    def test_duplicates_never_straddle_splits(self, spark):
        from datacompy_spark.operators.textops import leakage_safe_split

        # 60 duplicate groups of 3 (ids i, i+1000, i+2000 share content),
        # plus two NULL-text docs that must fold into ONE group
        rows = [(i + k * 1000, f"doc body {i}") for i in range(60) for k in range(3)]
        rows += [(9001, None), (9002, None)]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        out = leakage_safe_split(df, "doc_id", "text").collect()
        assert len(out) == len(rows)  # nothing dropped, NULLs included
        by_hash = {}
        for r in out:
            by_hash.setdefault(r["content_hash"], set()).add(
                (r["split"], r["group_rep"])
            )
        # one split decision and one representative per content group
        assert all(len(v) == 1 for v in by_hash.values())
        assert len(by_hash) == 61  # 60 text groups + 1 NULL sentinel group
        null_rows = [r for r in out if r["doc_id"] in (9001, 9002)]
        assert {r["group_rep"] for r in null_rows} == {9001}
        # the lottery actually spreads groups across all three splits
        assert {r["split"] for r in out} == {"train", "val", "test"}

    def test_matches_per_group_hash_split_model(self, spark):
        """Every member's split equals hash_split of its group rep — i.e.
        the operator IS hash_split lifted from rows to content groups."""
        from datacompy_spark.operators.textops import hash_split, leakage_safe_split

        rows = [(i, f"body {i % 40}") for i in range(120)]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        got = leakage_safe_split(df, "doc_id", "text")
        reps = got.select(F.col("group_rep").alias("doc_id")).distinct()
        model = {
            r["doc_id"]: r["split"] for r in hash_split(reps, "doc_id").collect()
        }
        for r in got.collect():
            assert r["split"] == model[r["group_rep"]]


class TestKmeansLloyd:
    def test_separates_planted_blobs(self, spark):
        from datacompy_spark.operators.similarity import kmeans_lloyd

        # three tight blobs in 8-d; ids interleaved so min-id seeding has to
        # actually converge, not start one seed per blob
        import random

        rng = random.Random(7)
        centers = {0: [5.0] * 8, 1: [-5.0] * 8, 2: [0.0] * 4 + [9.0] * 4}
        rows = []
        for i in range(90):
            c = i % 3
            rows.append(
                (i, [v + rng.uniform(-0.3, 0.3) for v in centers[c]], c)
            )
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>, blob int"
        )
        out = kmeans_lloyd(df, "vec_id", "embedding", k=3, iters=4).collect()
        assert len(out) == 90
        # every blob maps to exactly one cluster id and vice versa
        blob_of = {r[0]: r[2] for r in rows}
        mapping = {}
        for r in out:
            mapping.setdefault(r["cluster_id"], set()).add(blob_of[r["vec_id"]])
        assert len(mapping) == 3
        assert all(len(v) == 1 for v in mapping.values())

    def test_layout_invariant_trajectory(self, spark):
        """Same assignments and distances under a perverse repartition —
        the integer-grid arithmetic is what guarantees it."""
        from datacompy_spark.operators.similarity import kmeans_lloyd

        import random

        rng = random.Random(11)
        rows = [
            (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(120)
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        a = sorted(
            map(tuple, kmeans_lloyd(df, "vec_id", "embedding", k=5, iters=2).collect())
        )
        b = sorted(
            map(
                tuple,
                kmeans_lloyd(
                    df.repartition(13), "vec_id", "embedding", k=5, iters=2
                ).collect(),
            )
        )
        assert a == b


class TestSplitByGroup:
    def test_near_dups_share_split(self, spark):
        """Fuzzy leakage property end-to-end: near-identical docs (one word
        changed) land in the same component and therefore the same split."""
        from datacompy_spark.operators.dedup import assign_components, minhash_lsh_pairs
        from datacompy_spark.operators.textops import split_by_group

        base = (
            "the quick brown fox jumps over the lazy dog and then runs far "
            "away into the quiet green forest before sunset tonight"
        )
        rows = []
        for i in range(30):
            text = base.replace("fox", f"fox{i // 3}")  # triples of near-dups
            if i % 3 == 1:
                text = text.replace("sunset", "dusk")  # one-word edit
            rows.append((i, text))
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        pairs = minhash_lsh_pairs(
            df, "doc_id", "text", num_hashes=16, bands=8, shingle_k=3,
            threshold=0.5,
        )
        comp = assign_components(df, "doc_id", pairs)
        out = split_by_group(comp, "doc_id", "component").collect()
        assert len(out) == 30
        splits_by_comp = {}
        for r in out:
            splits_by_comp.setdefault(r["component"], set()).add(r["split"])
        assert all(len(v) == 1 for v in splits_by_comp.values())
        # the triples actually grouped (near-dup edges found)
        assert len(splits_by_comp) <= 10


class TestEmbeddingHealth:
    def test_each_pathology_flagged(self, spark):
        from datacompy_spark.operators.profile import embedding_health

        good = [0.5] * 4  # norm 1.0, inside [0.5, 2.0]
        rows = [
            (0, good),
            (1, None),                          # missing
            (2, [0.5] * 3),                     # bad_dim
            (3, [float("nan"), 0.5, 0.5, 0.5]), # has_nan
            (4, [0.0] * 4),                     # zero
            (5, [5.0] * 4),                     # norm 10 -> outlier
            (6, [0.1] * 4),                     # norm 0.2 -> outlier (low side)
        ]
        df = spark.createDataFrame(rows, "vec_id long, vec array<double>")
        got = {
            r["vec_id"]: r["verdict"]
            for r in embedding_health(df, "vec_id", "vec", dim=4).collect()
        }
        assert got == {
            0: "ok", 1: "missing", 2: "bad_dim", 3: "has_nan",
            4: "zero", 5: "norm_outlier", 6: "norm_outlier",
        }

    def test_nan_excluded_from_norm(self, spark):
        from datacompy_spark.operators.profile import embedding_health

        df = spark.createDataFrame(
            [(0, [float("nan"), 1.0])], "vec_id long, vec array<double>"
        )
        r = embedding_health(df, "vec_id", "vec", dim=2).collect()[0]
        assert r["verdict"] == "has_nan"
        assert r["n_nan"] == 1
        assert r["norm_sq_q"] == 10_000 ** 2  # finite part only


class TestParquetRowgroupProfile:
    def test_matches_duckdb_parquet_metadata(self, spark, sf_dir, tmp_path):
        """Footer numbers must agree byte-for-byte with DuckDB's
        parquet_metadata() over the same files."""
        import duckdb

        from datacompy_spark.operators.profile import parquet_rowgroup_profile

        # multi-file, multi-row-group input
        src = str(tmp_path / "li")
        (
            spark.read.parquet(f"{sf_dir}/lineitem.parquet")
            .repartition(3)
            .write.option("parquet.block.size", 64 * 1024)
            .parquet(src)
        )
        got = parquet_rowgroup_profile(spark, src).toPandas()
        con = duckdb.connect()
        want = con.execute(
            "SELECT file_name, row_group_id, row_group_num_rows, "
            "row_group_bytes, sum(total_compressed_size)::BIGINT AS comp "
            f"FROM parquet_metadata('{src}/*.parquet') "
            "GROUP BY ALL"
        ).df()
        assert len(got) == len(want) >= 3  # real row-group granularity
        g = {
            (r.file_path.rsplit("/", 1)[-1], r.row_group): (
                r.num_rows, r.total_byte_size, r.compressed_bytes
            )
            for r in got.itertuples()
        }
        w = {
            (r.file_name.rsplit("/", 1)[-1], r.row_group_id): (
                r.row_group_num_rows, r.row_group_bytes, r.comp
            )
            for r in want.itertuples()
        }
        assert g == w
        assert sum(v[0] for v in g.values()) == spark.read.parquet(src).count()

    def test_listing_is_content_pruned(self, spark, sf_dir):
        """The path fan-out must not read file contents: the binaryFile
        scan's ReadSchema carries only path metadata, no content column."""
        from datacompy_spark.operators.profile import parquet_rowgroup_profile

        out = parquet_rowgroup_profile(spark, f"{sf_dir}/lineitem.parquet")
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "content" not in plan
        assert out.count() >= 1


class TestCompressionQuality:
    def test_ordering_and_exact_values(self, spark):
        import zlib

        from datacompy_spark.operators.textops import compression_quality

        prose = (
            "the committee reviewed seventeen distinct proposals before "
            "narrowing the field to a shortlist of four finalists whose "
            "budgets varied widely across regions and quarters"
        )
        spam = "buy now " * 40
        rows = [(0, prose), (1, spam), (2, None), (3, "")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r["doc_id"]: r["zratio"]
            for r in compression_quality(df, "doc_id", "text").collect()
        }
        # repetitive text compresses far harder than prose
        assert got[1] < got[0] * 0.5
        assert got[2] is None and got[3] == 1.0
        # bit-exact against a local zlib run (same interpreter, same lib)
        for i, t in ((0, prose), (1, spam)):
            raw = t.encode()
            assert got[i] == len(zlib.compress(raw, 6)) / len(raw)


class TestBM25Search:
    def test_ranking_and_saturation(self, spark):
        rows = [
            (1, "spark window merge spark window merge extra pad pad pad pad pad"),
            (2, "spark window merge"),            # all 3 terms, short doc
            (3, "spark spark spark spark spark"),  # one term, saturated
            (4, "nothing relevant here at all"),
            (5, "window merge"),
        ]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        out = TO.bm25_search(df, "doc_id", "text", "spark window merge", k=10)
        got = {r["doc_id"]: r for r in out.collect()}
        # doc 4 matches no query term -> absent
        assert 4 not in got
        assert got[2]["n_terms"] == 3 and got[5]["n_terms"] == 2
        # short full-coverage doc beats the padded one (length normalization)
        assert got[2]["score_q"] > got[1]["score_q"]
        # tf saturation: 5x one term cannot beat full 3-term coverage
        assert got[3]["score_q"] < got[2]["score_q"]
        # ranks are dense from 1 and ordered by score
        ranks = sorted((r["rank"], r["score_q"]) for r in got.values())
        assert [r for r, _ in ranks] == list(range(1, len(got) + 1))
        assert all(ranks[i][1] >= ranks[i + 1][1] for i in range(len(ranks) - 1))

    def test_empty_query_rejected(self, spark):
        df = spark.createDataFrame([(1, "x")], "doc_id bigint, text string")
        with pytest.raises(ValueError):
            TO.bm25_search(df, "doc_id", "text", "!!! ???")


class TestLMScore:
    def test_common_vs_rare_tokens(self, spark):
        common = "the the the the the the the the"
        mixed = "the quick brown fox jumps over lazy dogs"
        rows = [(i, common) for i in range(8)] + [(100, mixed)]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        out = {r["doc_id"]: r for r in TO.lm_score(df, "doc_id", "text").collect()}
        # docs made of the corpus-dominant token cost few bits; the doc
        # carrying the rare tokens costs many
        assert out[0]["bits_per_token_milli"] < out[100]["bits_per_token_milli"]
        assert out[0]["n_tokens"] == 8 and out[100]["n_tokens"] == 8
        # identical docs score identically
        assert out[0]["bits_per_token_milli"] == out[7]["bits_per_token_milli"]

    def test_bits_value_pins_to_local_lm(self, spark):
        import math

        rows = [(1, "a a b")]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        r = TO.lm_score(df, "doc_id", "text").first()
        # corpus: a:2 b:1 total 3. bits(a)=log2(3/2), bits(b)=log2(3)
        qa = math.floor(math.log2(3 / 2) * 10_000 + 0.5)
        qb = math.floor(math.log2(3.0) * 10_000 + 0.5)
        expect = math.floor((2 * qa + qb) / (3 * 10_000) * 1000 + 0.5)
        assert r["bits_per_token_milli"] == expect


class TestGopherQuality:
    """Planted documents failing exactly one Gopher rule each."""

    def _run(self, spark, rows, **kw):
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        return {
            r["doc_id"]: r
            for r in TO.gopher_quality(df, "doc_id", "text", **kw).collect()
        }

    def test_each_rule_fires_alone(self, spark):
        good = (
            "the cat and the dog have gone to be with all of that good group "
            "they like every fine day here and more words fill this out now"
        )
        rows = [
            (1, good),
            (2, "the of and to be that have with"),  # 8 words < min 10
            (3, good + " ##########################"),  # symbol ratio
            (4, "the be to of and that have with " + "11 22 33 44 55 66 77 88 99 00 " * 3),  # alpha frac
            (5, "the be to of and that have with word\n" + "- a\n" * 20),  # bullets
            (6, "the be to of and that have with word\n" + "tail...\n" * 20),  # ellipsis
            (7, "cat dog bird fish goat lion tiger bear wolf deer seal hawk"),  # stopwords
        ]
        out = self._run(spark, rows, min_words=10)
        assert out[1]["keep"] is True and out[1]["reasons"] == ""
        assert out[2]["reasons"] == "word_count"
        assert "symbol_ratio" in out[3]["reasons"]
        assert "alpha_words" in out[4]["reasons"]
        assert "bullet_lines" in out[5]["reasons"]
        assert "ellipsis_lines" in out[6]["reasons"]
        assert out[7]["reasons"] == "stopwords"

    def test_mean_word_len_window(self, spark):
        rows = [
            (1, " ".join(["a"] * 12) + " the of and that be to have with"),  # short words
            (2, " ".join(["supercalifragilistic"] * 12) + " the of and to be that have with"),
        ]
        out = self._run(spark, rows, min_words=5)
        assert "mean_word_len" in out[1]["reasons"]
        assert "mean_word_len" in out[2]["reasons"]

    def test_sql_twin_agrees(self, spark):
        import duckdb

        rows = [
            (1, "the cat and the dog have gone to be with all of that group"),
            (2, "- bullet\n- bullet\nthe end..."),
            (3, "#### symbols #### the of and"),
            (4, ""),
        ]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        got = (
            TO.gopher_quality(df, "doc_id", "text", min_words=10)
            .toPandas()
            .set_index("doc_id")
            .sort_index()
        )
        m = TO.gopher_quality_sql("text", min_words=10)
        cols = ", ".join(f"{e} AS {n}" for n, e in m.items())
        con = duckdb.connect()
        con.register("t", df.toPandas())
        want = (
            con.execute(f"SELECT doc_id, {cols} FROM t")
            .df()
            .set_index("doc_id")
            .sort_index()
        )
        for c in ["n_words", "stop_hits", "reasons"]:
            assert list(got[c]) == list(want[c]), c
        for c in ["mean_word_len", "symbol_ratio", "alpha_word_frac",
                  "bullet_line_frac", "ellipsis_line_frac"]:
            assert list(got[c]) == list(want[c]), c


class TestMinhashIndexAndDupRate:
    def test_index_shape_and_probe_consistency(self, spark, docs):
        """One row per (doc, band); joining the index to itself on
        (band, bkey) must produce EXACTLY the candidate set the pairwise
        operator sees (same banding function)."""
        idx = D.minhash_index(docs, "doc_id", "text", num_hashes=16, bands=4)
        rows = idx.collect()
        assert len(rows) == 5 * 4
        cand = {
            (min(a, b), max(a, b))
            for (a, band_a, k_a) in [(r["doc_id"], r["band"], r["bkey"]) for r in rows]
            for (b, band_b, k_b) in [(r["doc_id"], r["band"], r["bkey"]) for r in rows]
            if a < b and band_a == band_b and k_a == k_b
        }
        pairs = D.minhash_lsh_pairs(
            docs, "doc_id", "text", num_hashes=16, bands=4, threshold=0.0
        )
        got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
        # every verified pair came through a shared bucket in the index
        assert got <= cand

    def test_index_is_zero_shuffle(self, spark, docs):
        p = D.minhash_index(docs, "doc_id", "text")._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in p, p[:600]

    def test_dup_rate_by_group(self, spark):
        rows = [
            (1, "same text", "a"),
            (2, "Same   TEXT!", "a"),   # exact dup after normalize
            (3, "other text", "a"),
            (4, "unique here", "b"),
            (5, None, "b"),             # NULL text = its own content class
            (6, None, "b"),
        ]
        df = spark.createDataFrame(rows, "doc_id bigint, text string, source string")
        out = {r["grp"]: r for r in D.dup_rate_by_group(df, "text", "source").collect()}
        assert out["a"]["n_docs"] == 3 and out["a"]["n_distinct"] == 2
        assert abs(out["a"]["dup_rate"] - 1 / 3) < 1e-12
        # the two NULL texts collapse into ONE sentinel group
        assert out["b"]["n_docs"] == 3 and out["b"]["n_distinct"] == 2


class TestNgramNovelty:
    def test_first_owner_attribution(self, spark):
        """Doc 1 owns the boilerplate (first in id order); doc 3 repeats
        it verbatim and scores 0; doc 2 is fully novel; doc 4 mixes one
        owned span with one repeated span."""
        boiler = "alpha beta gamma delta epsilon"          # one 5-gram
        rows = [
            (1, boiler),
            (2, "zeta eta theta iota kappa"),              # novel 5-gram
            (3, boiler),                                   # late copy
            (4, boiler + " zeta0 eta0 theta0 iota0 kappa0"),
            (5, None),                                     # NULL spine
            (6, "too short"),                              # <5 tokens: 1 whole-doc shingle
        ]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        out = {r["doc_id"]: r for r in TO.ngram_novelty(df, "doc_id", "text", n=5).collect()}
        assert out[1]["novelty_frac"] == 1.0
        assert out[2]["novelty_frac"] == 1.0
        assert out[3]["n_grams"] == 1 and out[3]["novelty_frac"] == 0.0
        # doc 4: 6 distinct 5-grams over 10 tokens; exactly one (the
        # boilerplate) is owned upstream
        assert out[4]["n_grams"] == 6
        assert out[4]["n_novel_grams"] == 5
        assert out[5]["n_grams"] == 0 and out[5]["novelty_frac"] is None
        assert out[6]["n_grams"] == 1 and out[6]["novelty_frac"] == 1.0

    def test_symmetric_dup_vs_ordered_novelty(self, spark):
        """The discriminating case vs ngram_dup_profile: BOTH copies of
        shared content score dup_frac 1.0, but only the LATE copy loses
        novelty."""
        rows = [(1, "one two three four five"), (2, "one two three four five")]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        dup = {r["doc_id"]: r["dup_frac"]
               for r in TO.ngram_duplication_profile(df, "doc_id", "text", n=5).collect()}
        nov = {r["doc_id"]: r["novelty_frac"]
               for r in TO.ngram_novelty(df, "doc_id", "text", n=5).collect()}
        assert dup == {1: 1.0, 2: 1.0}
        assert nov == {1: 1.0, 2: 0.0}


class TestNpmiCollocations:
    def test_planted_collocation_tops_ranking(self, spark):
        # "san" and "francisco" ONLY ever occur adjacent (perfect
        # collocation -> NPMI exactly 1.0); every other word also appears
        # next to different neighbors, so its pairs score strictly lower.
        rows = [(i, "san francisco the data") for i in range(5)]
        rows += [(100 + i, "the engine san francisco") for i in range(5)]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        out = TO.npmi_collocations(df, "text", min_count=5, top_k=5).collect()
        assert out, "no collocations found"
        top = out[0]
        assert (top["w1"], top["w2"]) == ("san", "francisco")
        assert top["npmi_q"] == 1_000_000  # perfect collocation, exact
        assert out[1]["npmi_q"] < 1_000_000
        # quantized score: bounded in [-1e6, 1e6], ranking descending
        scores = [r["npmi_q"] for r in out]
        assert scores == sorted(scores, reverse=True)
        assert all(-1_000_000 <= s <= 1_000_000 for s in scores)

    def test_min_count_prunes_and_short_docs_safe(self, spark):
        # 1-token and empty docs must not fabricate pairs (sequence(0,-1)
        # descends in Spark — the guard filters size<2 token arrays first)
        rows = [(1, "solo"), (2, ""), (3, None), (4, "alpha beta")]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        out = TO.npmi_collocations(df, "text", min_count=1, top_k=10).collect()
        pairs = {(r["w1"], r["w2"]) for r in out}
        assert pairs == {("alpha", "beta")}
        assert not TO.npmi_collocations(df, "text", min_count=2, top_k=10).collect()

    def test_validation(self, spark):
        df = spark.createDataFrame([(1, "a b")], "doc_id bigint, text string")
        with pytest.raises(ValueError):
            TO.npmi_collocations(df, "text", min_count=0)


class TestTemperatureMix:
    def test_alpha_rebalances_toward_low_resource(self, spark):
        # big source: 100 docs x 10 tokens; small: 10 docs x 10 tokens.
        rows = [(i, "big", "w w w w w w w w w w") for i in range(100)]
        rows += [(1000 + i, "small", "w w w w w w w w w w") for i in range(10)]
        df = spark.createDataFrame(rows, "doc_id bigint, source string, text string")
        out = TO.corpus_temperature_mix(
            df, "doc_id", "source", "text", token_budget=500, alpha=0.3
        )
        rates = {r["source"]: r["rate_q"] for r in out.select("source", "rate_q").distinct().collect()}
        # alpha<1: the small source's ACCEPTANCE RATE must exceed the big one's
        assert rates["small"] > rates["big"]
        # alpha=1 reproduces natural proportions: equal rates
        nat = TO.corpus_temperature_mix(
            df, "doc_id", "source", "text", token_budget=500, alpha=1.0
        )
        nrates = {r["source"]: r["rate_q"] for r in nat.select("source", "rate_q").distinct().collect()}
        assert nrates["small"] == nrates["big"]

    def test_membership_deterministic(self, spark):
        rows = [(i, f"s{i % 3}", "tok tok tok tok") for i in range(30)]
        df = spark.createDataFrame(rows, "doc_id bigint, source string, text string")
        a = {r["doc_id"]: r["accepted"] for r in TO.corpus_temperature_mix(
            df, "doc_id", "source", "text", 40).collect()}
        b = {r["doc_id"]: r["accepted"] for r in TO.corpus_temperature_mix(
            df.repartition(7), "doc_id", "source", "text", 40).collect()}
        assert a == b

    def test_validation(self, spark):
        df = spark.createDataFrame([(1, "s", "a")], "doc_id bigint, source string, text string")
        with pytest.raises(ValueError):
            TO.corpus_temperature_mix(df, "doc_id", "source", "text", 10, alpha=1.5)


class TestDsirWeights:
    def test_target_like_docs_score_higher(self, spark):
        # target (eval) distribution is about "finance"; train docs that
        # share its vocabulary must outweigh off-domain docs
        eval_df = spark.createDataFrame(
            [(900, "stock market bond yield equity"),
             (901, "bond market yield trading stock")],
            "doc_id bigint, text string",
        )
        train = spark.createDataFrame(
            [(1, "stock market yield report"),
             (2, "cat dog bird fish lizard"),
             (3, None),  # NULL text keeps a zero-weight row via the spine
             (4, "")],
            "doc_id bigint, text string",
        )
        out = {r["doc_id"]: r for r in TO.dsir_weights(train, eval_df, "doc_id", "text").collect()}
        assert set(out) == {1, 2, 3, 4}
        assert out[1]["logratio_q"] > out[2]["logratio_q"]
        assert out[3]["n_tokens"] == 0 and out[3]["logratio_q"] == 0
        assert out[4]["n_tokens"] == 0

    def test_weight_is_partitioning_invariant(self, spark):
        eval_df = spark.createDataFrame([(99, "alpha beta gamma")], "doc_id bigint, text string")
        rows = [(i, "alpha beta delta epsilon zeta eta theta") for i in range(40)]
        train = spark.createDataFrame(rows, "doc_id bigint, text string")
        a = {r["doc_id"]: r["logratio_q"] for r in TO.dsir_weights(train, eval_df, "doc_id", "text").collect()}
        b = {r["doc_id"]: r["logratio_q"] for r in TO.dsir_weights(train.repartition(13), eval_df, "doc_id", "text").collect()}
        assert a == b  # exact integer fold: no float-order dependence

    def test_validation(self, spark):
        df = spark.createDataFrame([(1, "a")], "doc_id bigint, text string")
        with pytest.raises(ValueError):
            TO.dsir_weights(df, df, "doc_id", "text", alpha=0.0)


class TestKnnJaccardGraph:
    def test_top_k_neighbors_ranked(self, spark):
        rows = [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),   # identical to 1
            (3, "the quick brown fox jumps over the lazy cat"),   # near 1/2
            (4, "completely different text about spark engines"),
        ]
        df = spark.createDataFrame(rows, "doc_id bigint, text string").withColumn(
            "block", F.lit("b")
        )
        out = D.knn_jaccard_graph(df, "doc_id", "text", "block", k=2, threshold=0.2)
        g = {}
        for r in out.collect():
            g.setdefault(r["src"], []).append((r["knn_rank"], r["dst"], r["jaccard"]))
        # doc 1's best neighbor is its identical twin, jaccard exactly 1.0
        assert sorted(g[1])[0] == (1, 2, 1.0)
        # the graph is symmetric: 2's best neighbor is 1
        assert sorted(g[2])[0] == (1, 1, 1.0)
        # the off-topic doc has no neighbors at the threshold
        assert 4 not in g
        # nobody exceeds k rows
        assert all(len(v) <= 2 for v in g.values())

    def test_partitioning_invariant_and_validation(self, spark):
        rows = [(i, f"shared common prefix text variant {i % 3}") for i in range(12)]
        df = spark.createDataFrame(rows, "doc_id bigint, text string").withColumn(
            "block", F.lit("b")
        )
        a = sorted(map(tuple, D.knn_jaccard_graph(df, "doc_id", "text", "block", k=2).collect()))
        b = sorted(map(tuple, D.knn_jaccard_graph(
            df.repartition(7), "doc_id", "text", "block", k=2).collect()))
        assert a == b
        with pytest.raises(ValueError):
            D.knn_jaccard_graph(df, "doc_id", "text", "block", k=0)


class TestCharEntropy:
    def test_entropy_bands(self, spark):
        rows = [
            (1, "aaaaaaaaaaaaaaaaaaaa"),        # one symbol: entropy 0
            (2, "abababababababababab"),        # two equiprobable: exactly 1 bit
            (3, "the quick brown fox jumps over the lazy dog"),  # natural text
            (4, None),                           # NULL text: spine row, NULL score
            (5, ""),                             # empty: 0 chars, NULL score
        ]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        out = {r["doc_id"]: r for r in TO.char_entropy(df, "doc_id", "text").collect()}
        assert out[1]["entropy_q"] == 0
        assert out[2]["entropy_q"] == 1_000_000_000  # exactly 1.0 bit/char
        assert 3_000_000_000 < out[3]["entropy_q"] < 4_500_000_000  # natural band
        assert out[4]["n_chars_norm"] == 0 and out[4]["entropy_q"] is None
        assert out[5]["entropy_q"] is None
        assert len(out) == 5

    def test_partitioning_invariant(self, spark):
        rows = [(i, f"some shared text body variant {i % 4} with words") for i in range(24)]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        a = {r["doc_id"]: r["entropy_q"] for r in TO.char_entropy(df, "doc_id", "text").collect()}
        b = {r["doc_id"]: r["entropy_q"] for r in TO.char_entropy(
            df.repartition(7), "doc_id", "text").collect()}
        assert a == b  # integer fold: no float-order dependence
