"""Image table, dedup & similarity Spark tests."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from karta_spark.operators import dedup, similarity
from karta_spark.sources import images


class TestImages:
    def test_decode_verifies(self, spark):
        imgs = images.synth_images(spark, 60, partitions=2)
        stats = images.decode_stats(imgs).collect()
        assert len(stats) == 60
        # lossless codecs roundtrip exactly (PSNR inf); the baseline JPEG
        # codec must clear the >= 40 dB lossy invariant on every image
        assert all(r["psnr_vs_ref"] >= 40.0 for r in stats)
        assert sum(1 for r in stats if r["psnr_vs_ref"] == float("inf")) == 40

    def test_captions_byte_equal(self, spark):
        imgs = images.synth_images(spark, 30, partitions=2).collect()
        for r in imgs:
            i = int(r["image_id"].replace("img", ""))
            assert r["caption"] == images.caption_for_index(i)

    def test_verify_images_both_invariants(self, spark):
        """verify_images enforces BOTH north-rule invariants: PSNR>=40dB
        (Arrow decode kernel) and caption byte-equality (pure Catalyst).
        A tampered caption flips caption_ok without touching psnr_ok."""
        imgs = images.synth_images(spark, 24, partitions=2)
        v = images.verify_images(imgs)
        rows = v.collect()
        assert len(rows) == 24 and all(r["verified"] for r in rows)
        tampered = imgs.withColumn(
            "caption",
            F.when(F.col("image_id") == "img000000000003",
                   F.lit("not the reference caption")).otherwise(F.col("caption")))
        bad = {r["image_id"]: r for r in images.verify_images(tampered).collect()}
        assert not bad["img000000000003"]["caption_ok"]
        assert bad["img000000000003"]["psnr_ok"]
        assert sum(1 for r in bad.values() if r["verified"]) == 23

    def test_lonlat_in_valid_range(self, spark):
        pts = images.with_lonlat(images.synth_images(spark, 200, partitions=2))
        row = pts.agg(F.min("x"), F.max("x"), F.min("y"), F.max("y")).collect()[0]
        assert -180 <= row[0] and row[1] <= 180
        assert -85 <= row[2] and row[3] <= 85

    def test_skew_variant_piles_into_cell(self, spark):
        pts = images.with_lonlat(images.synth_images(
            spark, 500, partitions=2, skew_cell=(10.0, 20.0), skew_frac=0.2))
        hot = pts.where((F.col("x") >= 10) & (F.col("x") < 11)
                        & (F.col("y") >= 20) & (F.col("y") < 21)).count()
        assert hot >= 90  # ~20% of 500

    def test_deterministic(self, spark):
        a = images.synth_images(spark, 20, partitions=2).orderBy("image_id").collect()
        b = images.synth_images(spark, 20, partitions=4).orderBy("image_id").collect()
        assert [(r["image_id"], r["phash"], bytes(r["bytes"])) for r in a] == \
               [(r["image_id"], r["phash"], bytes(r["bytes"])) for r in b]


class TestDedup:
    def _docs(self, spark):
        base = [
            (0, "the quick brown fox jumps over the lazy dog in the morning light"),
            (1, "the quick brown fox jumps over the lazy dog in the evening light"),
            (2, "completely different content about database query optimization"),
            (3, "the quick brown fox jumps over the lazy dog in the morning light"),
            (4, "yet another unrelated document mentioning spark and parquet files"),
        ]
        return spark.createDataFrame(base, "doc_id long, text string")

    def test_exact_dedup(self, spark):
        d = self._docs(spark)
        kept = dedup.exact_dedup(d, ["text"], "doc_id")
        assert kept.count() == 4
        groups = {r["canonical_id"]: r["n_dups"]
                  for r in dedup.duplicate_groups(d, ["text"], "doc_id").collect()}
        assert groups[0] == 2

    def test_minhash_finds_near_dups(self, spark):
        pairs = {(r["id_a"], r["id_b"]) for r in dedup.minhash_lsh_pairs(
            self._docs(spark), "text", "doc_id",
            num_perm=64, bands=16, shingle=3, threshold=0.5).collect()}
        assert (0, 3) in pairs          # exact dup
        assert (0, 1) in pairs or (1, 3) in pairs  # near dup
        assert all(a not in (2, 4) and b not in (2, 4) for a, b in pairs)

    def _docs_unicode(self, spark):
        """The planted-dup fixture plus accented, CJK, short, empty and
        null documents: the cases where code points, padding and
        coalesce decide the hashes."""
        rows = [(r["doc_id"], r["text"]) for r in self._docs(spark).collect()]
        rows += [
            (5, "héllo wörld café naïve résumé über straße"),
            (6, "héllo wörld café naïve résumé über strasse"),
            (7, "日本語のテキスト 東京 大阪 京都 日本語のテキスト"),
            (8, "日本語のテキスト 東京 大阪 京都 日本語の文章"),
            (9, "ab"),
            (10, ""),
            (11, None),
            (12, "ab"),
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_minhash_portable_sql_twin(self, spark):
        """The DuckDB twin reproduces the operator bit-for-bit: same
        candidates (probabilistic LSH included), same Jaccard."""
        import duckdb
        kw = dict(num_perm=64, bands=16, shingle=3, threshold=0.5)
        docs = self._docs_unicode(spark)
        got = sorted((r["id_a"], r["id_b"], round(r["jaccard"], 6)) for r in
                     dedup.minhash_lsh_pairs(docs, "text", "doc_id",
                                             max_bucket=None, **kw).collect())
        assert (0, 3, 1.0) in got and (9, 12, 1.0) in got
        assert any(a == 5 for a, _, _ in got) and any(a == 7 for a, _, _ in got)
        con = duckdb.connect()
        con.register("documents", docs.toPandas())
        sql = dedup.minhash_portable_sql("documents", "text", "doc_id", **kw)
        want = sorted(tuple(t) for t in con.execute(sql).fetchall())
        assert got == want

    def test_simhash_hamming(self, spark):
        pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in
                 dedup.simhash_near_pairs(self._docs(spark), "text", "doc_id",
                                          max_hamming=6).collect()}
        assert pairs.get((0, 3)) == 0  # identical docs -> identical simhash

    def test_simhash_portable_and_sql_twin(self, spark):
        """SimHash: identical docs collide at hamming 0, and the DuckDB twin
        reproduces the full pipeline (signatures, blocking, hamming)
        bit-for-bit, non-ASCII, empty and null documents included."""
        import duckdb
        docs = self._docs_unicode(spark)
        got = sorted((r["id_a"], r["id_b"], r["hamming"]) for r in
                     dedup.simhash_near_pairs(
                         docs, "text", "doc_id", max_hamming=6,
                         max_bucket=None).collect())
        assert (0, 3, 0) in got and (10, 11, 0) in got
        con = duckdb.connect()
        con.register("documents", docs.toPandas())
        sql = dedup.simhash_portable_sql("documents", "text", "doc_id", max_hamming=6)
        want = sorted(tuple(t) for t in con.execute(sql).fetchall())
        assert got == want

    def test_simhash_portable_recall_midrange(self, spark):
        """A planted pair at hamming 4..8 survives the 9-band blocking
        (the round-1 recall bug class: 4 fixed bands silently dropped
        these).  Brute-force hamming over all signatures is the oracle."""
        rows = [(i, f"w{i} x{i} y{i} z{i} common base tokens here") for i in range(20)]
        rows.append((100, "alpha beta gamma delta epsilon zeta eta theta"))
        rows.append((101, "alpha beta gamma delta epsilon zeta eta iota"))
        df = spark.createDataFrame(rows, "doc_id long, text string")
        sigs = {r["id"]: r["simhash"] for r in
                dedup.simhash(df, "text", "doc_id").collect()}
        brute = sorted((a, b, bin((sigs[a] ^ sigs[b]) & (2**64 - 1)).count("1"))
                       for a in sigs for b in sigs if a < b)
        want = [(a, b, h) for a, b, h in brute if h <= 8]
        got = sorted((r["id_a"], r["id_b"], r["hamming"]) for r in
                     dedup.simhash_near_pairs(
                         df, "text", "doc_id", max_hamming=8).collect())
        assert got == want
        assert any(4 <= h <= 8 for _, _, h in got) or (100, 101) in {
            (a, b) for a, b, _ in got}


P31 = 2**31 - 1
# every edge case the kernels must hash like the SQL twins: null, empty,
# shorter than any shingle, lone surrogates, accented and CJK text,
# chr(1) (the pad character itself), and a length outlier
KERNEL_TEXTS = [None, "", "a", "ab", "\ud800\ud801", "aaaaaa", "ab\x01",
                "héllo wörld café", "日本語のテキスト 東京", "  two  spaces  "]
_rng = np.random.default_rng(7)
KERNEL_TEXTS += [" ".join(_rng.choice(["batch", "part", "spark", "小", "héllo",
                                       "straße"], size=int(k)))
                 for k in _rng.integers(1, 40, size=60)]
KERNEL_TEXTS += [" ".join(["batch", "小", "héllo"] * 300)]


def _ref_gram_hash(g):
    """Scalar portable hash, mod at every step as the SQL fragment does."""
    h = ord(g[0])
    for ch in g[1:]:
        h = (h % P31) * 131 + ord(ch)
    return h % P31


def _ref_minhash(t, n, a, b):
    t = (t or "").ljust(n, "\x01")
    hs = {_ref_gram_hash(t[i:i + n]) for i in range(len(t) - n + 1)}
    return [min((aj * h + bj) % P31 for h in hs) for aj, bj in zip(a, b)]


def _ref_simhash(t, a, b):
    hs = [_ref_gram_hash(w[:12].ljust(12, "\x01"))
          for w in (t or "").split(" ") if w]
    val = sum(1 << k for k in range(64)
              if sum(2 * ((a[k] * h + b[k]) % P31 % 2) - 1 for h in hs) > 0)
    return val - 2**64 if val >= 2**63 else val


def _sql_cte(sql, name):
    """The twin's SQL cut after CTE *name* (the CTE before ``banded``)."""
    head = sql.split("banded AS (")[0].rstrip().rstrip(",")
    return f"{head}\nSELECT * FROM {name}"


def _kernel_docs():
    """KERNEL_TEXTS as a documents table DuckDB accepts (valid UTF-8)."""
    import pandas as pd
    texts = [t for t in KERNEL_TEXTS if t is None or "\ud800" not in t]
    return pd.DataFrame({"doc_id": np.arange(len(texts)), "text": texts})


class TestMinHashKernel:
    @pytest.mark.parametrize("n", [3, 6, 9])
    def test_minhash_batch_kernel_bit_equal(self, n):
        """_minhash_sig_batch equals the scalar per-doc reference on every
        edge case and across chunk boundaries."""
        a, b = dedup._portable_perm_params(64, 42)
        ua, ub = np.array(a, dtype=np.uint64), np.array(b, dtype=np.uint64)
        assert dedup._minhash_sig_batch([], n, ua, ub).shape == (0, 64)
        texts = KERNEL_TEXTS * 4  # > one kernel chunk
        got = dedup._minhash_sig_batch(texts, n, ua, ub)
        assert got.shape == (len(texts), 64)
        for i, t in enumerate(texts):
            assert list(got[i]) == _ref_minhash(t, n, a, b), (n, i, t)

    def test_minhash_kernel_matches_sql_sig(self):
        """The kernel reproduces every column of the DuckDB twin's sig CTE."""
        import duckdb
        docs = _kernel_docs()
        a, b = (np.array(v, dtype=np.uint64)
                for v in dedup._portable_perm_params(64, 42))
        got = dedup._minhash_sig_batch(docs["text"].tolist(), 6, a, b)
        con = duckdb.connect()
        con.register("documents", docs)
        sql = _sql_cte(dedup.minhash_portable_sql("documents", "text", "doc_id"), "sig")
        rows = con.execute(sql).fetchall()
        assert len(rows) == len(docs)
        for r in rows:
            assert list(r[1:]) == list(got[r[0]]), r[0]


class TestSimHashKernel:
    def test_simhash_batch_kernel_bit_equal(self):
        a, b = dedup._simhash_bit_params(7)
        ua, ub = np.array(a, dtype=np.uint64), np.array(b, dtype=np.uint64)
        assert dedup._simhash_batch([], ua, ub).shape == (0,)
        texts = KERNEL_TEXTS * 4  # > one kernel chunk
        got = dedup._simhash_batch(texts, ua, ub)
        assert [int(v) for v in got] == [_ref_simhash(t, a, b) for t in texts]

    def test_simhash_kernel_matches_sql_sigs(self):
        """Bit k of the kernel's long is char k+1 of the twin's bit string."""
        import duckdb
        docs = _kernel_docs()
        a, b = (np.array(v, dtype=np.uint64) for v in dedup._simhash_bit_params(7))
        got = dedup._simhash_batch(docs["text"].tolist(), a, b)
        con = duckdb.connect()
        con.register("documents", docs)
        sql = _sql_cte(dedup.simhash_portable_sql("documents", "text", "doc_id"), "sigs")
        rows = dict(con.execute(sql).fetchall())
        assert len(rows) == len(docs)
        for i, v in enumerate(got):
            assert "".join(str((int(v) >> k) & 1) for k in range(64)) == rows[i], i


class TestTextPipeline:
    def test_tfidf_top_terms(self, spark):
        """A term unique to one doc outranks corpus-wide terms there."""
        from karta_spark.operators import text as T
        d = spark.createDataFrame(
            [(0, "common zebra zebra"), (1, "common common common"),
             (2, "common word word")],
            "doc_id long, text string")
        got = {(r["doc_id"], r["rank"]): r["term"]
               for r in T.tfidf_top_terms(d, "text", "doc_id", k=2).collect()}
        assert got[(0, 1)] == "zebra"
        assert got[(2, 1)] == "word"
        assert got[(1, 1)] == "common"

    def test_decontaminate_planted_overlap(self, spark):
        """A doc sharing a 5-gram with the benchmark is dropped; others
        survive; <5-token docs can never contaminate."""
        from karta_spark.operators import text as T
        bench = spark.createDataFrame(
            [(100, "the quick brown fox jumps over the lazy dog")],
            "doc_id long, text string")
        corpus = spark.createDataFrame(
            [(0, "prefix words quick brown fox jumps over suffix"),  # leaked
             (1, "completely unrelated text about spark engines here"),
             (2, "quick brown fox jumps"),  # only 4 tokens -> no 5-gram
             (3, "the quick brown fox JUMPS over nothing shared")],  # case-sensitive miss
            "doc_id long, text string")
        kept = {r["doc_id"] for r in T.decontaminate(
            corpus, bench, "text", "doc_id", n=5).collect()}
        assert kept == {1, 2, 3}
        bad = {r["id"] for r in T.contaminated_ids(
            corpus, bench, "text", "doc_id", n=5).collect()}
        assert bad == {0}

    def test_repetition_ratio_goldens(self, spark):
        """1 - distinct/total bigrams; short docs -> 0.0 exactly."""
        from karta_spark.operators import text as T
        d = spark.createDataFrame(
            [(0, "a b a b a b"),       # bigrams: ab ba ab ba ab -> 2/5 distinct
             (1, "all words are different here"),
             (2, "single"), (3, ""), (4, "x x x x")],  # xx xx xx -> 1/3
            "doc_id long, text string")
        got = {r["doc_id"]: round(r["rr"], 6) for r in d.select(
            "doc_id", T.repetition_ratio(F.col("text")).alias("rr")).collect()}
        assert got[0] == round(1 - 2 / 5, 6)
        assert got[1] == 0.0
        assert got[2] == 0.0 and got[3] == 0.0
        assert got[4] == round(1 - 1 / 3, 6)

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

    def test_stratified_sample_deterministic_cap(self, spark):
        """Exactly `cap` rows per stratum, identical across partition
        layouts (hash order, not partition order)."""
        from karta_spark.operators import text as T
        rows = [(i, "a" if i % 3 else "b") for i in range(90)]
        d2 = spark.createDataFrame(rows, "doc_id long, grp string").repartition(2)
        d7 = spark.createDataFrame(rows, "doc_id long, grp string").repartition(7)
        s2 = sorted((r["grp"], r["doc_id"]) for r in
                    T.stratified_sample(d2, ["grp"], "doc_id", cap=10).collect())
        s7 = sorted((r["grp"], r["doc_id"]) for r in
                    T.stratified_sample(d7, ["grp"], "doc_id", cap=10).collect())
        assert s2 == s7
        from collections import Counter
        assert Counter(g for g, _ in s2) == {"a": 10, "b": 10}

    def test_stratified_sample_null_stratum_and_big_ids(self, spark):
        """NULL is a valid stratum key (prefilter joins must be null-safe,
        not silently dropping the group) and huge ids (> 2^32, the
        web-scale case) hash without int64 overflow, matching the DuckDB
        twin exactly."""
        import duckdb
        from karta_spark.operators import text as T
        base = 4_600_000_000_000_000_000  # ~2^62: a*id would overflow
        rows = [(base + i * 7, "a" if i % 3 == 0 else None) for i in range(60)]
        d = spark.createDataFrame(rows, "doc_id long, grp string")
        key = lambda t: (t[0] is None, t[0] or "", t[1], t[2])  # noqa: E731
        want = sorted(((r["grp"], r["doc_id"], r["rank"]) for r in
                       T.stratified_sample(d, ["grp"], "doc_id", cap=10,
                                           prefilter=False).collect()), key=key)
        got = sorted(((r["grp"], r["doc_id"], r["rank"]) for r in
                      T.stratified_sample(d, ["grp"], "doc_id", cap=10).collect()),
                     key=key)
        assert got == want
        assert sum(1 for g, _, _ in got if g is None) == 10  # NULL stratum kept
        con = duckdb.connect()
        con.register("documents", d.toPandas())
        sql = T.stratified_sample_sql("documents", ["grp"], "doc_id", cap=10)
        oracle = sorted((tuple(t) for t in con.execute(sql).fetchall()), key=key)
        assert got == oracle

    def test_stratified_sample_prefilter_exact(self, spark):
        """The hash-threshold prefilter (the 100TB path) returns exactly the
        unfiltered result, including when the sliver comes up short and the
        verified fallback reruns the stratum (safety deliberately ~0)."""
        from karta_spark.operators import text as T
        rows = [(i, "a" if i % 3 else "b") for i in range(90)]
        d = spark.createDataFrame(rows, "doc_id long, grp string")
        want = sorted((r["grp"], r["doc_id"], r["rank"]) for r in
                      T.stratified_sample(d, ["grp"], "doc_id", cap=10,
                                          prefilter=False).collect())
        for safety in (4.0, 0.05):  # 0.05 -> sliver < cap -> fallback path
            got = sorted((r["grp"], r["doc_id"], r["rank"]) for r in
                         T.stratified_sample(d, ["grp"], "doc_id", cap=10,
                                             safety=safety).collect())
            assert got == want, f"safety={safety}"


class TestSimilarity:
    def _vectors(self, spark, n=200, dim=16):
        rng = np.random.default_rng(5)
        rows = [(i, rng.standard_normal(dim).astype(float).tolist()) for i in range(n)]
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def test_cosine_topk_exact(self, spark):
        v = self._vectors(spark)
        q = v.where(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding"))
        got = similarity.cosine_topk(v, q, k=1, qid="query_id").collect()
        # a vector's own nearest neighbor is itself with cosine 1
        for r in got:
            if r["rank"] == 1:
                assert r["vec_id"] == r["query_id"]
                assert r["cosine"] == pytest.approx(1.0)

    def test_lsh_recall(self, spark):
        v = self._vectors(spark, 300, 16)
        q = v.where(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding"))
        brute = {(r["query_id"], r["vec_id"])
                 for r in similarity.cosine_topk(v, q, k=5, qid="query_id").collect()}
        lsh = {(r["query_id"], r["vec_id"])
               for r in similarity.lsh_topk(v, q, k=5, dim=16, nbits=2).collect()}
        recall = len(brute & lsh) / len(brute)
        assert recall >= 0.5  # 2-bit buckets: high recall expected

    def test_lsh_portable_recall_and_sql_twin(self, spark):
        """Rademacher/quantized LSH: the DuckDB twin reproduces buckets,
        candidates, cosine and ranks bit-for-bit."""
        import duckdb
        v = self._vectors(spark, 300, 16)
        q = v.where(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding"))
        brute = {(r["query_id"], r["vec_id"])
                 for r in similarity.cosine_topk(v, q, k=5, qid="query_id").collect()}
        out = similarity.lsh_topk(v, q, k=5, dim=16, nbits=2)
        got = sorted((r["query_id"], r["vec_id"], round(r["cosine"], 6), r["rank"])
                     for r in out.collect())
        recall = len(brute & {(a, b) for a, b, _, _ in got}) / len(brute)
        assert recall >= 0.5
        con = duckdb.connect()
        con.register("embeddings", v.toPandas())
        sql = similarity.lsh_topk_portable_sql(
            k=5, dim=16, nbits=2, query_filter="vec_id < 10", vector_filter="TRUE")
        want = sorted((a, b, round(c, 6), r) for a, b, c, r in con.execute(sql).fetchall())
        assert got == want

    def test_ivf_static_recall_and_sql_twin(self, spark):
        """Static-codebook IVF: recall comparable to the trained variant,
        and the DuckDB twin reproduces assignment, probes, cosine and
        ranks exactly (integer bucket math)."""
        import duckdb
        v = self._vectors(spark, 300, 16)
        q = v.where(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding"))
        brute = {(r["query_id"], r["vec_id"])
                 for r in similarity.cosine_topk(v, q, k=5, qid="query_id").collect()}
        out = similarity.ivf_topk_static(v, q, k=5, dim=16, nprobe=2)
        got = sorted((r["query_id"], r["vec_id"], round(r["cosine"], 6), r["rank"])
                     for r in out.collect())
        recall = len(brute & {(a, b) for a, b, _, _ in got}) / len(brute)
        assert recall >= 0.4  # 8 lists, 2 probed
        con = duckdb.connect()
        con.register("embeddings", v.toPandas())
        sql = similarity.ivf_static_sql(
            k=5, dim=16, nprobe=2, query_filter="vec_id < 10", vector_filter="TRUE")
        want = sorted((a, b, round(c, 6), r) for a, b, c, r in con.execute(sql).fetchall())
        assert got == want

    def test_ivf_recall(self, spark):
        v = self._vectors(spark, 300, 16)
        q = v.where(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding"))
        brute = {(r["query_id"], r["vec_id"])
                 for r in similarity.cosine_topk(v, q, k=5, qid="query_id").collect()}
        ivf = {(r["query_id"], r["vec_id"])
               for r in similarity.ivf_topk(v, q, k=5, c=8, nprobe=4).collect()}
        recall = len(brute & ivf) / len(brute)
        assert recall >= 0.5


class TestLayout:
    def test_partition_pruning(self, spark, tmp_path):
        from karta_spark.plans import layout
        pts = images.with_lonlat(images.synth_images(spark, 3000, partitions=4))
        path = str(tmp_path / "cells")
        layout.write_cell_partitioned(pts.select("image_id", "x", "y"), path)

        bbox = (-80.0, 0.0, -60.0, 20.0)
        q = layout.bbox_scan(spark, path, bbox)
        plan = q._jdf.queryExecution().executedPlan().toString()
        # planning-time directory pruning is visible as PartitionFilters
        assert "PartitionFilters" in plan and "cell_coarse" in plan
        # and the coordinate predicates are pushed to the reader
        assert "PushedFilters" in plan

        # correctness: same rows as a full-scan filter
        want = pts.where((F.col("x") >= bbox[0]) & (F.col("x") <= bbox[2])
                         & (F.col("y") >= bbox[1]) & (F.col("y") <= bbox[3])).count()
        assert q.count() == want and want > 0
