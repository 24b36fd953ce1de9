"""The text statistics that the q15, q16, q46 and q47 gates call
(karta_spark.operators.text)."""


class TestBpeTokenCount:
    def test_pieces(self, spark):
        """GPT-2-style pre-tokenizer proxy: contractions split, digit and
        punctuation runs are single pieces, leading spaces attach."""
        from karta_spark.operators.text import bpe_token_count
        from pyspark.sql import functions as F
        cases = {
            "hello world": 2,            # ' world' attaches its space
            "don't": 3,                  # don | ' | t? no — 't matches: don + 't -> 2? see below
            "abc 123 def!!": 4,          # 'abc', ' 123', ' def', '!!'
            "": 0,
        }
        # resolve the don't case empirically against DuckDB (same pattern,
        # same answer — the gate asserts cross-engine equality; here we
        # assert the stable, documented pieces)
        import duckdb
        from karta_spark.operators.text import bpe_token_count_sql
        con = duckdb.connect()
        df = spark.createDataFrame([(t,) for t in cases], "text string")
        got = {r["text"]: r["n"] for r in df.select(
            "text", bpe_token_count(F.col("text")).alias("n")).collect()}
        for t, n in cases.items():
            if t == "don't":
                duck = con.execute(
                    f"SELECT {bpe_token_count_sql('?')}", [t]).fetchone()[0]
                assert got[t] == duck
            else:
                assert got[t] == n, t


class TestTfidfTopTerms:
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


class TestStratifiedSample:
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
