"""Text statistics over caption/document columns.

Token counts (whitespace and GPT-2-style pre-tokenizer pieces), digit
ratio, mean token length and a normalized-text fingerprint are pure
Catalyst expressions; ``tfidf_top_terms`` and ``stratified_sample`` build
whole plans.  Each ``*_sql`` function returns the DuckDB text of the same
result, so the gates can compare both engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def token_count(col: Column) -> Column:
    """Whitespace token count; empty/blank strings count 0."""
    t = F.trim(col)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(F.size(F.split(t, r"\s+")))


# GPT-2-style pre-tokenizer pattern (the public regex from the GPT-2 BPE
# vocab.bpe tooling, simplified to what Spark/DuckDB RE2-ish engines both
# support: no lookahead): contractions, letter runs, digit runs,
# punctuation runs, residual non-space runs.
_BPE_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+"


def bpe_token_count(col: Column) -> Column:
    """BPE-ish token count: the number of GPT-2-style pre-tokenizer pieces
    (each piece maps to >=1 BPE tokens, so this is the standard cheap
    proxy for 'how many tokens will this document cost').  Pure Catalyst:
    regexp_extract_all + size, zero Python."""
    t = F.coalesce(col, F.lit(""))
    return F.size(F.regexp_extract_all(t, F.lit(f"({_BPE_PATTERN})"), 1))


def bpe_token_count_sql(col_expr: str) -> str:
    """DuckDB twin of bpe_token_count (same pattern, same semantics)."""
    pat = _BPE_PATTERN.replace("'", "''")
    return (f"len(regexp_extract_all(coalesce({col_expr}, ''), "
            f"'{pat}'))")


def digit_ratio(col: Column) -> Column:
    removed = F.length(F.regexp_replace(col, "[0-9]", ""))
    return F.when(F.length(col) == 0, F.lit(0.0)).otherwise(
        (F.length(col) - removed).cast("double") / F.length(col))


def mean_token_len(col: Column) -> Column:
    t = F.trim(col)
    no_space = F.length(F.regexp_replace(t, r"\s+", ""))
    return F.when(token_count(col) == 0, F.lit(0.0)).otherwise(
        no_space.cast("double") / token_count(col))


def fingerprint(col: Column) -> Column:
    """64-bit document fingerprint over normalized text (lowercase,
    whitespace collapsed) — xxhash64, JVM-side."""
    norm = F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")
    return F.xxhash64(norm)


def tfidf_top_terms(df: DataFrame, text_col: str, id_col: str,
                    k: int = 3) -> DataFrame:
    """Top-k terms per document by smoothed TF-IDF — the classic keyword
    extraction step of a corpus pipeline, pure Catalyst.

    tf = term count / doc token count; idf = ln((N+1)/(df+1)) + 1
    (sklearn's smooth_idf). Ranking breaks ties by term ascending.  Shape
    at scale: one narrow shuffle for (doc, term) counts, a broadcast-able
    (N rows = vocab) df table, a per-doc window over <= vocab terms."""
    from pyspark.sql import Window
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.trim(F.coalesce(F.col(text_col), F.lit(""))), " ")).alias("term"),
    ).where(F.length("term") > 0)
    tf = toks.groupBy("id", "term").agg(F.count("*").alias("_tc"))
    doclen = toks.groupBy("id").agg(F.count("*").alias("_dl"))
    # lazy one-row N via countDistinct, cross-joined in (no eager scan at
    # plan-build time); countDistinct excludes NULL ids — the same rule as
    # the oracle's count(DISTINCT), so NULL-id rows can't skew the idf
    ndocs = df.select(F.count_distinct(F.col(id_col)).alias("_n"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("_df"))
    idf = F.log((F.col("_n").cast("double") + 1.0)
                / (F.col("_df").cast("double") + 1.0)) + 1.0
    # no broadcast hint on dfreq: the vocabulary of a web-scale corpus is
    # itself huge; tf and dfreq are both keyed on term (dfreq derives from
    # tf's shuffle), so the sort-merge join reuses the partitioning, and
    # AQE still picks a broadcast when the vocab is actually small
    scored = (
        tf.join(doclen, "id").join(dfreq, "term")
        .crossJoin(F.broadcast(ndocs))
        .withColumn("tfidf", (F.col("_tc").cast("double") / F.col("_dl")) * idf)
    )
    w = Window.partitionBy("id").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select(F.col("id").alias(id_col), "term",
                F.round("tfidf", 6).alias("tfidf"), "rank")
    )


def tfidf_top_terms_sql(table: str, text_col: str, id_col: str, k: int = 3) -> str:
    """DuckDB twin of tfidf_top_terms (same tokenization, smoothing, ties)."""
    return f"""
WITH toks AS (
  SELECT {id_col} AS id, t.tok AS term
  FROM {table}, unnest(string_split(trim(coalesce({text_col}, '')), ' ')) AS t(tok)
  WHERE length(t.tok) > 0
),
tf AS (SELECT id, term, count(*) AS tc FROM toks GROUP BY 1, 2),
dl AS (SELECT id, count(*) AS dl FROM toks GROUP BY 1),
n AS (SELECT count(DISTINCT {id_col}) AS n FROM {table}),
dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
scored AS (
  SELECT tf.id, tf.term,
         (CAST(tc AS DOUBLE) / dl) * (ln((n + 1.0) / (df + 1.0)) + 1.0) AS tfidf
  FROM tf JOIN dl USING (id) JOIN dfq USING (term), n
),
ranked AS (
  SELECT id AS {id_col}, term, tfidf,
         CAST(row_number() OVER (PARTITION BY id ORDER BY tfidf DESC, term ASC) AS BIGINT) AS rank
  FROM scored
)
SELECT {id_col}, term, round(tfidf, 6) AS tfidf, rank FROM ranked WHERE rank <= {k}
"""


def stratified_sample(df: DataFrame, strata_cols: list[str], id_col: str,
                      cap: int, seed: int = 13, prefilter: bool = True,
                      safety: float = 4.0) -> DataFrame:
    """Deterministic per-stratum cap: keep the `cap` rows of each stratum
    that rank lowest by a seeded portable hash of the id — reproducible
    across engines and cluster sizes (no RNG state, no partition order
    dependence), the building block for balanced training mixes.

    Scale shape: a naive per-stratum row_number window sorts the WHOLE
    stratum in one task — a single 20 TB stratum would serialize.  With
    ``prefilter`` (default) the window only ever sees ~safety*cap rows per
    stratum: the hash is uniform on [0, P), so rows with
    h < P * safety*cap/stratum_count are kept first (one cheap count agg),
    and the exact window runs on that sliver.  Exactness is VERIFIED, not
    assumed — knn_join's guarantee-then-widen idiom: any stratum whose
    sliver came up short of min(cap, n) reruns unfiltered (probability
    ~exp(-cap*(safety-1)^2/2) per stratum; ~1e-10 at cap=40, safety=4)."""
    from pyspark.sql import Window
    from karta_spark.operators.dedup import _PORTABLE_P
    import random as _random
    rng = _random.Random(seed)
    a, b = rng.randrange(1, _PORTABLE_P), rng.randrange(0, _PORTABLE_P)
    # reduce the id mod P BEFORE the multiply: a < 2^31 and id%P < 2^31
    # keep the product < 2^62, so ids beyond ~4.3e9 (the web-scale case)
    # don't overflow int64 — Spark would wrap silently where DuckDB errors,
    # breaking the cross-engine reproducibility this operator promises
    h = ((F.lit(a) * (F.col(id_col).cast("long") % F.lit(_PORTABLE_P))
          + F.lit(b)) % F.lit(_PORTABLE_P))
    w = Window.partitionBy(*strata_cols).orderBy(h.asc(), F.col(id_col).asc())

    def ranked(frame: DataFrame) -> DataFrame:
        return (
            frame.withColumn("_rk", F.row_number().over(w).cast("long"))
            .where(F.col("_rk") <= cap)
            .select(*strata_cols, id_col, F.col("_rk").alias("rank"))
        )

    if not prefilter:
        return ranked(df)

    def nullsafe_cond(left: DataFrame, right: DataFrame):
        # NULL is a valid stratum key (the window form keeps NULL groups);
        # plain equi-joins would silently drop those rows from the sliver
        cond = left[strata_cols[0]].eqNullSafe(right[strata_cols[0]])
        for c in strata_cols[1:]:
            cond = cond & left[c].eqNullSafe(right[c])
        return cond

    counts = df.groupBy(*strata_cols).agg(F.count("*").alias("_sn"))
    thresh = F.least(
        F.lit(float(_PORTABLE_P)),
        F.lit(float(_PORTABLE_P)) * F.lit(safety * cap) / F.col("_sn").cast("double"))
    sliver = (df.join(counts, nullsafe_cond(df, counts))
              .where(h.cast("double") < thresh)
              .select(df["*"]))
    # localCheckpoint, not persist: blocks are ContextCleaner-freed when the
    # DataFrame is GC'd; a bare persist leaks executor storage per call
    out = ranked(sliver).localCheckpoint(eager=False)
    got = out.groupBy(*strata_cols).agg(F.count("*").alias("_got"))
    short = (counts.join(got, nullsafe_cond(counts, got), "left")
             .where(F.coalesce(F.col("_got"), F.lit(0)) < F.least(F.lit(cap), F.col("_sn")))
             .select(*[counts[c] for c in strata_cols]))
    if short.limit(1).count() == 0:
        return out
    redo = ranked(df.join(short, nullsafe_cond(df, short), "left_semi"))
    kept = out.join(short, nullsafe_cond(out, short), "left_anti")
    return kept.unionByName(redo)


def stratified_sample_sql(table: str, strata_cols: list[str], id_col: str,
                          cap: int, seed: int = 13) -> str:
    """DuckDB twin of stratified_sample — same seeded affine hash."""
    from karta_spark.operators.dedup import _PORTABLE_P
    import random as _random
    rng = _random.Random(seed)
    a, b = rng.randrange(1, _PORTABLE_P), rng.randrange(0, _PORTABLE_P)
    strata = ", ".join(strata_cols)
    return f"""
WITH ranked AS (
  SELECT {strata}, {id_col},
         CAST(row_number() OVER (
           PARTITION BY {strata}
           ORDER BY ({a} * (CAST({id_col} AS BIGINT) % {_PORTABLE_P}) + {b}) % {_PORTABLE_P} ASC,
                    {id_col} ASC) AS BIGINT) AS rank
  FROM {table}
)
SELECT {strata}, {id_col}, rank FROM ranked WHERE rank <= {cap}
"""
