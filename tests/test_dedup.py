"""The n-gram Jaccard and embedding near-dup operators that the q17 and q19
gates call, and cluster_representatives (karta_spark.operators.dedup)."""

from collections import Counter

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from karta_spark.operators import dedup


def char_pairs(df, threshold, max_df=None, text="text"):
    """{(id_a, id_b): jaccard} over the character 3-grams of *text*."""
    col = F.col(text)
    grams = F.transform(F.sequence(F.lit(1), F.greatest(F.length(col) - 2, F.lit(0))),
                        lambda i: col.substr(i, F.lit(3)))
    return pairs(dedup.ngram_jaccard_pairs(df, "doc_id", grams, threshold, max_df))


def pairs(df, value="jaccard"):
    return {(r["id_a"], r["id_b"]): r[value] for r in df.collect()}


def jaccard_reference(sets, threshold, max_df=None):
    """{(a, b): Jaccard rounded to 6 digits} over the df-capped sets, kept
    when the rounded value is >= threshold."""
    cnt = Counter(g for s in sets.values() for g in s)
    capped = {i: {g for g in s if max_df is None or cnt[g] <= max_df}
              for i, s in sets.items()}
    out = {}
    for a in capped:
        for b in capped:
            u = capped[a] | capped[b]
            j = round(len(capped[a] & capped[b]) / len(u), 6) if u else 0.0
            if a < b and u and j >= threshold:
                out[(a, b)] = j
    return out


class TestNgramJaccard:
    def test_cap_drops_hot_shingles_exactly(self, spark):
        docs = [(i, f"{c * 3} common xyz") for i, c in enumerate("abcd")]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        sets = {i: {t[k:k + 3] for k in range(len(t) - 2)} for i, t in docs}
        for max_df in (3, None):
            want = jaccard_reference(sets, 0.05, max_df)
            assert char_pairs(df, 0.05, max_df) == want
        assert len(want) == 6  # uncapped, every pair shares " common xyz"

    def test_small_corpus_char_trigrams(self, spark):
        df = spark.createDataFrame(pd.DataFrame({
            "doc_id": [1, 2, 3], "body": ["abcdefg", "abcdefx", "zzzzzzz"]}))
        assert set(char_pairs(df, 0.3, text="body")) == {(1, 2)}

    def test_exact_duplicate_scores_one(self, spark):
        texts = ["the quick brown fox in the morning light", "completely different",
                 "the quick brown fox in the evening light",
                 "the quick brown fox in the morning light"]
        df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
        assert char_pairs(df, 0.5)[(0, 3)] == 1.0

    def test_word_trigram_hashes_match_reference(self, spark, tmp_path):
        """q17 itself, on a planted corpus, equals a pure-Python Jaccard
        over the string word trigrams its xxhash64 grams stand for."""
        import __spark_entry__ as m
        rng = np.random.default_rng(17)
        texts = [" ".join(f"w{k}" for k in np.where(
                     rng.random(20) < p, rng.integers(0, 40, 20), base))
                 for base in rng.integers(0, 40, (12, 20)) for p in (0, .05, .15, .3)]
        texts += ["  padded  text here ", "three word doc"]
        pd.DataFrame({"doc_id": np.arange(len(texts), dtype=np.int64),
                      "text": texts}).to_parquet(tmp_path / "documents.parquet")
        toks = [t.strip(" ").split(" ") for t in texts]
        want = jaccard_reference(
            {i: {" ".join(ts[k:k + 3]) for k in range(len(ts) - 2)}
             for i, ts in enumerate(toks)}, 0.2, max_df=50)
        assert pairs(m.q17_ngram_jaccard(spark, str(tmp_path))) == want
        assert len(want) > 20

    def test_threshold_applies_to_the_rounded_jaccard(self, spark):
        """|A∩B|/|A∪B| = 2/3 = 0.66666...67 < 0.666667, but it rounds to
        0.666667, and the q17 oracle keeps such a pair."""
        df = spark.createDataFrame([(1, [10, 20]), (2, [10, 20, 30])],
                                   "id long, grams array<long>")
        got = pairs(dedup.ngram_jaccard_pairs(df, "id", F.col("grams"), 0.666667))
        assert got == {(1, 2): 0.666667}

    def test_plan_runs_one_job(self, spark):
        """Building the plan runs one Spark job, the localCheckpoint of the
        grouped id lists.  AQE is off here because it submits each shuffle
        stage of an action as a job of its own."""
        sc = spark.sparkContext
        df = spark.createDataFrame([(i, f"doc {i % 5} shared words") for i in range(40)],
                                   "doc_id long, text string")
        aqe = spark.conf.get("spark.sql.adaptive.enabled")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        sc.setJobGroup("ngram-plan", "n-gram Jaccard plan construction")
        try:
            out = dedup.ngram_jaccard_pairs(df, "doc_id", F.split("text", " "), 0.5)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            spark.conf.set("spark.sql.adaptive.enabled", aqe)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert len(sc.statusTracker().getJobIdsForGroup("ngram-plan")) == 1
        assert out.count() > 0

    def test_non_integral_id_raises(self, spark):
        df = spark.createDataFrame([("a", "abcdef")], "doc_id string, text string")
        with pytest.raises(ValueError, match="not an integral type"):
            dedup.ngram_jaccard_pairs(df, "doc_id", F.split("text", " "), 0.5)

    @pytest.mark.parametrize("bad", [-1, 2**32])
    def test_id_outside_32_bits_fails_the_query(self, spark, bad):
        df = spark.createDataFrame([(0, [1, 2]), (bad, [1, 2])],
                                   "id long, grams array<long>")
        with pytest.raises(Exception, match=r"id outside \[0, 2\^32\): " + str(bad)):
            dedup.ngram_jaccard_pairs(df, "id", F.col("grams"), 0.5).collect()


def test_embedding_near_dup_matches_bruteforce(spark):
    """Planted near-copies in one block against numpy's all-pairs cosine;
    five more copies sit in a second block, so they pair with nothing."""
    rng = np.random.default_rng(5)
    vecs = rng.standard_normal((150, 32))
    vecs = np.vstack([vecs, vecs[:20] + 0.01 * rng.standard_normal((20, 32))])
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    label = (np.arange(len(vecs)) >= 165).astype(int)
    df = spark.createDataFrame(
        [(i, int(label[i]), [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, label int, embedding array<double>")
    cos = vecs @ vecs.T
    want = {(a, b) for a in range(len(vecs)) for b in range(a + 1, len(vecs))
            if label[a] == label[b] and round(cos[a, b], 6) >= 0.98}
    got = pairs(dedup.embedding_near_dup_pairs(df, "embedding", "vec_id", "label", 0.98),
                "cosine")
    assert set(got) == want and len(want) >= 15  # the planted pairs are > 0.999
    assert all(c == pytest.approx(cos[a, b], abs=2e-6) for (a, b), c in got.items())


class TestClusterRepresentatives:
    def test_cluster_representatives_golden(self, spark):
        """Highest score wins per cluster; ties break to lowest id;
        singletons represent themselves."""
        from karta_spark.operators import dedup as D
        docs = spark.createDataFrame(
            [(1, 10.0), (2, 30.0), (3, 30.0), (7, 5.0), (9, 1.0)],
            "doc_id long, score double")
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3)], "id_a long, id_b long")  # cluster {1,2,3}
        got = {(r["canonical_id"], r["rep_id"], r["n_members"]) for r in
               D.cluster_representatives(docs, pairs, "doc_id",
                                         F.col("score")).collect()}
        # cluster {1,2,3}: scores 10/30/30 -> tie between 2 and 3 -> 2
        assert got == {(1, 2, 3), (7, 7, 1), (9, 9, 1)}
