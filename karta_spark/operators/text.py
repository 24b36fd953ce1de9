"""Text analysis operators for the documents table (training-data pipeline).

All hot-path expressions are pure Catalyst (length / regexp / split — JVM,
codegen'd); the heuristics are deliberately simple and deterministic so they
are oracle-expressible in ANSI SQL.
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


# (language, [signature regexes], [keyword tokens]) — ordered by
# specificity; the FIRST language whose signature fires wins, else the
# keyword argmax.  RE2-safe patterns shared verbatim with the DuckDB
# twin (code_language_sql).
_CODE_SIGS = (
    ("python", (r"(?m)^#!.*\bpython[0-9.]*\b",
                r"(?m)^\s*def [a-zA-Z_][a-zA-Z0-9_]*\(.*\):",
                r"(?m)^\s*import [a-z_][a-z0-9_.]*$",
                r"(?m)^\s*from [a-z_][a-z0-9_.]* import ")),
    ("javascript", (r"(?m)^\s*(const|let) [a-zA-Z_$][a-zA-Z0-9_$]* =",
                    r"=>\s*\{", r"\bfunction\s*\(",
                    r"(?m)^\s*module\.exports\b")),
    ("java", (r"(?m)^\s*public (static |final )*(class|void|int|String)\b",
              r"(?m)^package [a-z][a-z0-9_.]*;",
              r"System\.out\.println")),
    ("c", (r"(?m)^#include\s*<[a-z0-9_./]+\.h>",
           r"(?m)^\s*int main\s*\(")),
    ("go", (r"(?m)^package [a-z][a-z0-9_]*$", r"(?m)^func [A-Za-z_]",
            r":=")),
    ("rust", (r"(?m)^\s*fn [a-z_][a-z0-9_]*\(", r"\blet mut\b",
              r"(?m)^use [a-z_][a-z0-9_:]*;")),
    ("sql", (r"(?is)^\s*(select|insert|create|with)\b.*\bfrom\b",
             r"(?is)^\s*create (table|view|index)\b",
             r"(?is)^\s*select\b.+\bfrom\b.+\b(where|group by|order by)\b",
             r"(?is)^\s*insert into\b")),
    ("shell", (r"(?m)^#!/bin/(ba|z|da)?sh\b", r"(?m)^\s*fi$",
               r"(?m)^\s*(echo|export) [A-Z_]+=")),
    ("html", (r"(?is)<(!doctype\s+)?html\b", r"(?is)</(div|body|p)>")),
)


def code_language(col: Column) -> Column:
    """'prose' vs a code language — the corpus-routing step that
    separates code from natural language before tokenizer/filter
    selection.  Pure Catalyst: per-language signature-regex hit
    counts, FIRST language with >= 2 distinct signature hits wins
    (ordered by specificity), else 'prose'.  Deterministic and
    oracle-replicable (code_language_sql runs the identical chain);
    not a trained classifier — swap in one via pandas UDF when recall
    matters more than plan purity."""
    hits = {}
    for lang, pats in _CODE_SIGS:
        h = F.lit(0)
        for p in pats:
            h = h + (F.regexp_count(col, F.lit(p)) > 0).cast("int")
        hits[lang] = h
    out = F.lit("prose")
    for lang, _ in reversed(_CODE_SIGS):
        out = F.when(hits[lang] >= 2, F.lit(lang)).otherwise(out)
    return out


def code_language_sql(col_expr: str) -> str:
    cases = []
    for lang, pats in _CODE_SIGS:
        conds = " + ".join(
            "CASE WHEN regexp_matches({}, '{}') THEN 1 ELSE 0 END"
            .format(col_expr, p.replace("'", "''")) for p in pats)
        cases.append((lang, conds))
    expr = "'prose'"
    for lang, conds in reversed(cases):
        expr = f"CASE WHEN ({conds}) >= 2 THEN '{lang}' ELSE {expr} END"
    return expr


_ABBREVIATIONS = ("mr", "mrs", "ms", "dr", "prof", "sr", "jr", "st",
                  "vs", "etc", "e.g", "i.e", "fig", "no", "vol", "al",
                  "inc", "ltd", "co", "approx")


def split_sentences(text: str,
                    abbreviations: tuple = _ABBREVIATIONS) -> list[str]:
    """Deterministic rule-based sentence segmentation — the chunking
    step before sequence packing (q61): split after [.!?] runs
    followed by whitespace and an uppercase/digit start, protecting
    known abbreviations, decimal numbers, and single-letter initials
    ('J. Smith').  Not a trained segmenter; the rules are fixed so
    replicas chunk identically."""
    import re as _re
    t = " ".join((text or "").split())
    if not t:
        return []
    out = []
    start = 0
    for m in _re.finditer(r"[.!?]+(?= )", t):
        end = m.end()
        nxt = t[end + 1:end + 2]
        if not (nxt.isupper() or nxt.isdigit()):
            continue
        if m.group().startswith("."):
            before = t[start:m.start()]
            last = before.rsplit(" ", 1)[-1].lower().rstrip(".")
            if last in abbreviations or len(last) == 1:
                continue  # 'Dr. Smith' / 'J. Smith' are not boundaries
            # NOTE: no digit guard here — a true decimal point ('3.14')
            # is never followed by a space, so the boundary regex already
            # protects it; a prev/next-digit guard could only suppress
            # REAL boundaries ('... is 3.14. 2nd test ...')
        out.append(t[start:end])
        start = end + 1
    tail = t[start:]
    if tail:
        out.append(tail)
    return out


def sentence_split(df: DataFrame, text_col: str,
                   id_col: str) -> DataFrame:
    """(id, sent_idx, sentence, n_chars) — Arrow-batched, row-level
    parallel."""
    import pandas as pd

    id_type = df.schema[id_col].dataType.simpleString()

    def run(batches):
        for pdf in batches:
            rows = []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                for k, s in enumerate(split_sentences(text)):
                    rows.append((did, k, s, len(s)))
            yield pd.DataFrame(rows, columns=["id", "sent_idx",
                                              "sentence", "n_chars"])

    return df.mapInPandas(
        run, f"id {id_type}, sent_idx int, sentence string, "
             "n_chars int")


def _char_ngrams_expr(col: Column, n: int) -> Column:
    """All char n-grams of the normalized text (lowercase, whitespace
    collapsed) — pure Catalyst."""
    t = F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")
    return F.transform(F.sequence(F.lit(1), F.length(t) - (n - 1)),
                       lambda i: F.substring(t, i, n))


def train_char_lm(ref: DataFrame, text_col: str, n: int = 3,
                  k: float = 1.0):
    """Char-n-gram language model with add-k smoothing over a
    reference ("good") corpus — the KenLM-style quality-filter signal:
    documents whose n-gram distribution diverges from the reference
    (spam, gibberish, wrong language) score a high negative
    log-likelihood.

    Training is ONE distributed pass (explode n-grams, hash
    aggregate).  Log-probabilities are stored as INTEGER MICRO-NATS
    (round(ln(p) * 1e6)): per-document scoring then sums integers, so
    the score is exact and independent of row order / partitioning —
    no float-summation nondeterminism at any scale.

    Returns (model DataFrame (gram, logp_micro), default_logp_micro
    for unseen grams)."""
    import math as _math
    grams = ref.select(F.explode(
        _char_ngrams_expr(F.col(text_col), n)).alias("gram"))
    counts = grams.groupBy("gram").agg(F.count("*").alias("c"))
    agg = counts.agg(F.sum("c").alias("total"),
                     F.count("*").alias("v")).collect()[0]
    total, vocab = int(agg["total"]), int(agg["v"])
    denom = float(total) + k * (vocab + 1)  # +1: the unseen bucket
    model = counts.select(
        "gram",
        F.round(F.log((F.col("c").cast("double") + F.lit(k))
                      / F.lit(denom)) * 1e6, 0).cast("long")
        .alias("logp_micro"))
    default = int(round(_math.log(k / denom) * 1e6))
    return model, default


def lm_nll(df: DataFrame, text_col: str, id_col: str,
           model: DataFrame, default_logp_micro: int,
           n: int = 3) -> DataFrame:
    """Per-document mean negative log-likelihood in nats under the
    trained model: explode grams -> broadcast join -> integer sum.
    Output (id, n_grams, nll) — high nll = out-of-distribution
    document (the filter threshold is corpus-specific)."""
    grams = df.select(F.col(id_col).alias("id"), F.explode(
        _char_ngrams_expr(F.col(text_col), n)).alias("gram"))
    joined = grams.join(F.broadcast(model), "gram", "left")
    lp = F.coalesce(F.col("logp_micro"),
                    F.lit(int(default_logp_micro)).cast("long"))
    return (joined.groupBy("id")
            .agg(F.count("*").cast("long").alias("n_grams"),
                 F.sum(lp).alias("_s"))
            .select("id", "n_grams",
                    F.round((-F.col("_s")).cast("double")
                            / F.col("n_grams").cast("double") / 1e6, 6)
                    .alias("nll")))


class AhoCorasick:
    """Multi-pattern exact substring matcher (Aho & Corasick 1975).

    THE scale path for blocklist filtering: a regex union dies at a
    few thousand alternatives, while the automaton is linear in text
    length regardless of pattern count — 100k badwords/blocked-URLs
    cost the same scan as 10.  Built once on the driver, broadcast to
    executors (the automaton size is O(total pattern chars), corpus-
    independent)."""

    def __init__(self, patterns: list[str]):
        self.patterns = list(patterns)
        # trie as list-of-dicts; goto[state][ch] -> state
        self.goto: list[dict[str, int]] = [{}]
        self.out: list[list[int]] = [[]]
        for pid, pat in enumerate(self.patterns):
            if not pat:
                raise ValueError("empty blocklist pattern")
            s = 0
            for ch in pat:
                nxt = self.goto[s].get(ch)
                if nxt is None:
                    nxt = len(self.goto)
                    self.goto[s][ch] = nxt
                    self.goto.append({})
                    self.out.append([])
                s = nxt
            self.out[s].append(pid)
        # BFS failure links
        from collections import deque
        self.fail = [0] * len(self.goto)
        q = deque()
        for s in self.goto[0].values():
            q.append(s)
        while q:
            r = q.popleft()
            for ch, s in self.goto[r].items():
                q.append(s)
                f = self.fail[r]
                while f and ch not in self.goto[f]:
                    f = self.fail[f]
                self.fail[s] = self.goto[f].get(ch, 0)
                if self.fail[s] == s:
                    self.fail[s] = 0
                self.out[s] = self.out[s] + self.out[self.fail[s]]

    def find(self, text: str) -> list[tuple[int, int]]:
        """[(end_index_exclusive, pattern_id)] for every occurrence."""
        s = 0
        hits = []
        for i, ch in enumerate(text):
            while s and ch not in self.goto[s]:
                s = self.fail[s]
            s = self.goto[s].get(ch, 0)
            for pid in self.out[s]:
                hits.append((i + 1, pid))
        return hits

    def hit_ids(self, text: str) -> list[int]:
        """Distinct matched pattern ids, ascending."""
        return sorted({pid for _, pid in self.find(text)})


def blocklist_hits(df: DataFrame, text_col: str, id_col: str,
                   patterns: list[str],
                   lowercase: bool = True) -> DataFrame:
    """(id, n_hits, hit_ids array<int>, blocked) per document — the
    C4-style badwords / blocked-URL filter at automaton speed.  The
    automaton broadcasts once; each task scans its rows linearly."""
    import pandas as pd

    spark = df.sparkSession
    ac = AhoCorasick([p.lower() if lowercase else p for p in patterns])
    bc = spark.sparkContext.broadcast(ac)
    id_type = df.schema[id_col].dataType.simpleString()

    def run(batches):
        a = bc.value
        for pdf in batches:
            ids, nh, hids, blk = [], [], [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                t = (text or "")
                if lowercase:
                    t = t.lower()
                h = a.hit_ids(t)
                ids.append(did)
                nh.append(len(h))
                hids.append(h)
                blk.append(bool(h))
            yield pd.DataFrame({"id": ids, "n_hits": nh,
                                "hit_ids": hids, "blocked": blk})

    return df.mapInPandas(
        run, f"id {id_type}, n_hits int, hit_ids array<int>, "
             "blocked boolean")


def fix_mojibake(s: str, max_passes: int = 2) -> str:
    """Repair UTF-8-bytes-misread-as-cp1252/latin-1 text ('café' seen
    as 'cafÃ©') — the single most common encoding damage in crawled
    corpora — plus NFC normalization and control-character stripping.

    The repair criterion is the ftfy-style roundtrip test: re-encode
    through cp1252 (latin-1 fallback) and accept ONLY when the bytes
    decode as valid UTF-8 to a different string.  Genuine Latin text
    ('José') fails the UTF-8 decode and passes through unchanged, so
    false repairs are structurally rare.  Two passes unwind
    double-encoded mojibake."""
    import unicodedata
    for _ in range(max_passes):
        try:
            b = s.encode("cp1252")
        except UnicodeEncodeError:
            try:
                b = s.encode("latin-1")
            except UnicodeEncodeError:
                break
        try:
            s2 = b.decode("utf-8")
        except UnicodeDecodeError:
            break
        if s2 == s:
            break
        s = s2
    s = unicodedata.normalize("NFC", s)
    return "".join(c for c in s
                   if c in "\n\t" or unicodedata.category(c) != "Cc")


def fix_mojibake_texts(df: DataFrame, text_col: str,
                       id_col: str) -> DataFrame:
    """Arrow-batched corpus repair: (id, text, changed).  Row-level
    parallelism, no shuffle at any scale."""
    import pandas as pd

    id_type = df.schema[id_col].dataType.simpleString()

    def run(batches):
        for pdf in batches:
            fixed = [fix_mojibake(t or "") for t in pdf[text_col]]
            yield pd.DataFrame({
                "id": pdf[id_col],
                "text": fixed,
                "changed": [f != (t or "") for f, t in
                            zip(fixed, pdf[text_col])]})

    return df.mapInPandas(run,
                          f"id {id_type}, text string, changed boolean")


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


def word_ngrams(col: Column, n: int) -> Column:
    """Distinct space-joined word n-grams of a string column (whitespace
    tokens); documents with fewer than n tokens yield an empty array.
    Pure Catalyst (split + sequence + slice + concat_ws)."""
    toks = F.split(F.trim(col), r"\s+")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
    return F.when(F.size(toks) < n, F.array().cast("array<string>")) \
            .otherwise(F.array_distinct(grams))


def repetition_ratio(col: Column, n: int = 2) -> Column:
    """Fraction of word n-grams that are repeats of an earlier n-gram in
    the same document (Gopher-style intra-document repetition filter):
    1 - distinct/total over the NON-distinct n-gram multiset; 0.0 for
    documents with fewer than n tokens.  Pure Catalyst."""
    toks = F.split(F.trim(col), r"\s+")
    total = F.size(toks) - (n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), total),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
    distinct = F.size(F.array_distinct(grams))
    return F.when(total < 1, F.lit(0.0)).otherwise(
        F.lit(1.0) - distinct.cast("double") / total.cast("double"))


def contaminated_ids(df: DataFrame, bench: DataFrame, text_col: str,
                     id_col: str, n: int = 5,
                     broadcast_bench: bool = True) -> DataFrame:
    """ids of df documents sharing at least one word n-gram with ANY
    benchmark document — exact benchmark decontamination (the training-
    pipeline step that drops eval-set leakage before training).

    Plan: both sides explode to distinct n-grams; a semi-join on the gram
    marks contaminated docs.  The benchmark gram set broadcasts when small
    (the common case — eval sets are tiny next to a training corpus);
    pass broadcast_bench=False to let AQE pick the strategy for a big one."""
    doc_g = df.select(F.col(id_col).alias("id"),
                      F.explode(word_ngrams(F.col(text_col), n)).alias("g"))
    bench_g = bench.select(
        F.explode(word_ngrams(F.col(text_col), n)).alias("g")).distinct()
    if broadcast_bench:
        bench_g = F.broadcast(bench_g)
    return doc_g.join(bench_g, "g", "left_semi").select("id").distinct()


def decontaminate(df: DataFrame, bench: DataFrame, text_col: str,
                  id_col: str, n: int = 5,
                  broadcast_bench: bool = True) -> DataFrame:
    """df minus documents sharing any word n-gram with the benchmark."""
    bad = contaminated_ids(df, bench, text_col, id_col, n, broadcast_bench)
    return df.join(bad.withColumnRenamed("id", id_col), id_col, "left_anti")


def build_gram_bloom(bench: DataFrame, text_col: str, n: int = 5,
                     m_bits: int = 1 << 23, k: int = 5):
    """Bloom bitset over the benchmark's word n-grams.

    The 100 TB shape for decontamination: the exact path
    (contaminated_ids) semi-joins against the distinct benchmark gram
    set, which stops broadcasting when the benchmark grows past
    executor memory.  A Bloom filter is CONSTANT-size (m_bits/8 bytes
    regardless of benchmark size) with zero false negatives, so it is
    always broadcastable; its false positives are removed by an exact
    verify limited to the candidate subset (bloom_contaminated_ids
    verify=True).

    Build plan is fully distributed: grams -> k xxhash64 positions ->
    per-64-bit-word bit_or aggregation — the driver materializes at
    most m_bits/64 (word_idx, word) rows (131k for the 8M-bit
    default), never the gram set itself.  Returns a numpy uint64
    array of length m_bits/64."""
    import numpy as np
    if m_bits % 64:
        raise ValueError("m_bits must be a multiple of 64")
    grams = bench.select(
        F.explode(word_ngrams(F.col(text_col), n)).alias("g"))
    pos = None
    for seed in range(k):
        p = grams.select(
            F.pmod(F.xxhash64(F.col("g"), F.lit(seed)),
                   F.lit(m_bits)).alias("pos"))
        pos = p if pos is None else pos.unionAll(p)
    words = (pos
             .select((F.col("pos") / 64).cast("long").alias("w"),
                     F.expr("shiftleft(1L, CAST(pos % 64 AS INT))")
                     .alias("bit"))
             .groupBy("w").agg(F.expr("bit_or(bit)").alias("bits"))
             .collect())  # bounded: <= m_bits/64 rows by construction
    bitset = np.zeros(m_bits // 64, dtype=np.uint64)
    for r in words:
        bitset[int(r["w"])] = np.uint64(r["bits"] & 0xFFFFFFFFFFFFFFFF)
    return bitset


def bloom_contaminated_ids(df: DataFrame, bench: DataFrame,
                           text_col: str, id_col: str, n: int = 5,
                           m_bits: int = 1 << 23, k: int = 5,
                           verify: bool = True) -> DataFrame:
    """Two-phase benchmark decontamination for corpus scale:

    1. PROBE — every corpus gram checks k Bloom bits in an
       Arrow-batched kernel over the broadcast constant-size bitset;
       docs with any fully-set gram become candidates.  Zero false
       negatives by Bloom construction.
    2. VERIFY (default) — the exact gram semi-join of
       contaminated_ids runs on the CANDIDATE DOCS ONLY, removing
       Bloom false positives.  Output == the exact path, but the
       expensive join touches a tiny fraction of a 100 TB corpus.

    verify=False returns the raw candidate superset (useful when a
    conservative drop is acceptable and the benchmark is huge)."""
    import numpy as np
    import pandas as pd
    spark = df.sparkSession
    bitset = build_gram_bloom(bench, text_col, n, m_bits, k)
    bc = spark.sparkContext.broadcast(bitset)
    grams = df.select(F.col(id_col).alias("id"),
                      F.explode(word_ngrams(F.col(text_col), n))
                      .alias("g"))
    hcols = [F.pmod(F.xxhash64(F.col("g"), F.lit(s)), F.lit(m_bits))
             .alias(f"h{s}") for s in range(k)]
    hashed = grams.select("id", *hcols)

    def probe(batches):
        bs = bc.value
        for pdf in batches:
            hits = np.ones(len(pdf), dtype=bool)
            for s in range(k):
                p = pdf[f"h{s}"].to_numpy().astype(np.int64)
                word = bs[p >> 6]
                hits &= (word >> (p & 63).astype(np.uint64)
                         & np.uint64(1)).astype(bool)
            yield pd.DataFrame({"id": pdf["id"][hits]})

    cand = hashed.mapInPandas(probe, f"id {df.schema[id_col].dataType.simpleString()}") \
                 .distinct()
    if not verify:
        return cand
    cand_docs = df.join(cand.withColumnRenamed("id", id_col),
                        id_col, "left_semi")
    return contaminated_ids(cand_docs, bench, text_col, id_col, n)


def pack_token_spans(df: DataFrame, token_col, id_col: str = "doc_id",
                     budget: int = 2048, shards: int = 64,
                     shard_by: str = "hash") -> DataFrame:
    """GPT-style sequence packing (concat-then-chunk), sharded.

    The standard pretraining data layout: each shard concatenates its
    documents' token streams in id order and slices the stream into
    fixed ``budget``-token training sequences; a document crossing a
    sequence boundary is split across sequences (zero padding waste —
    unlike greedy bin packing, which trades waste for document
    atomicity).  ``token_col`` is a column name or Column of per-doc
    token counts (token_count / bpe_token_count); docs with no tokens
    are dropped (they occupy no stream positions).

    Scale shape: sharding IS the parallelism — the window cumsum
    partitions by shard (a hash or modulus of the id, see ``shard_by``),
    so no global single-partition window exists; each shard's stream is an independent training file,
    which is exactly how production corpora are laid out.  Output per
    doc: shard, tok_start/tok_end (offsets in the shard stream),
    seq_first/seq_last (the training sequences the doc lands in),
    n_seqs_spanned.  All integer arithmetic — exactly reproducible in
    any engine (the DuckDB twin is the same window cumsum).

    ``shard_by``: 'hash' (default — xxhash64 of the id, best balance for
    clustered ids) or 'mod' (id % shards — engine-portable, what the
    DuckDB twin replicates; use for oracle-checked runs)."""
    from pyspark.sql import Window

    tok = F.col(token_col) if isinstance(token_col, str) else token_col
    out = df.select(F.col(id_col), tok.cast("long").alias("_n_tok")) \
            .where(F.col("_n_tok") > 0)
    if shard_by == "hash":
        sh = F.pmod(F.xxhash64(F.col(id_col)), F.lit(shards))
    elif shard_by == "mod":
        sh = F.pmod(F.col(id_col), F.lit(shards))
    else:
        raise ValueError(f"unknown shard_by {shard_by!r}")
    out = out.withColumn("shard", sh.cast("int"))
    w = Window.partitionBy("shard").orderBy(id_col)
    end = F.sum("_n_tok").over(w)
    start = end - F.col("_n_tok")
    return out.select(
        F.col(id_col), "shard",
        start.alias("tok_start"), end.alias("tok_end"),
        F.floor(start / budget).alias("seq_first"),
        F.floor((end - 1) / budget).alias("seq_last"),
    ).withColumn("n_seqs_spanned",
                 (F.col("seq_last") - F.col("seq_first") + 1).cast("long"))


def pack_token_spans_sql(table: str, token_expr: str, id_col: str = "doc_id",
                         budget: int = 2048, shards: int = 64) -> str:
    """DuckDB twin of pack_token_spans — same shard hash cannot be
    replicated (xxhash64 is engine-internal), so the twin takes the
    token expression and reproduces the cumsum/slicing algebra given the
    SAME shard assignment; callers that need a full-value oracle use a
    portable shard (id % shards), which this emits."""
    return f"""
WITH t AS (
  SELECT {id_col}, CAST({token_expr} AS BIGINT) AS n_tok,
         CAST({id_col} % {shards} AS INTEGER) AS shard
  FROM {table} WHERE {token_expr} > 0
), c AS (
  SELECT {id_col}, shard, n_tok,
         SUM(n_tok) OVER (PARTITION BY shard ORDER BY {id_col}) AS tok_end
  FROM t
)
SELECT {id_col}, shard, tok_end - n_tok AS tok_start, tok_end,
       (tok_end - n_tok) // {budget} AS seq_first,
       (tok_end - 1) // {budget} AS seq_last,
       CAST((tok_end - 1) // {budget} - (tok_end - n_tok) // {budget} + 1
            AS BIGINT) AS n_seqs_spanned
FROM c
"""


def _portable_affine(id_col: str, seed: int):
    """Seeded engine-portable hash h(id) = (a*(id%P)+b) % P — the same
    family stratified_sample uses (products < 2^62, no int64 wrap)."""
    from karta_spark.operators.dedup import _PORTABLE_P
    import random as _random
    rng = _random.Random(seed)
    a, b = rng.randrange(1, _PORTABLE_P), rng.randrange(0, _PORTABLE_P)
    h = ((F.lit(a) * (F.col(id_col).cast("long") % F.lit(_PORTABLE_P))
          + F.lit(b)) % F.lit(_PORTABLE_P))
    return h, a, b, _PORTABLE_P


def token_budget_sample(df: DataFrame, source_col: str, token_col,
                        budgets, id_col: str = "doc_id", seed: int = 13,
                        n_buckets: int = 4096) -> DataFrame:
    """Exact deterministic "take documents until the token budget" per
    source — the dataset-MIXTURE primitive ("50B tokens of web, 10B of
    code").  Documents are ordered by a seeded portable hash of the id
    (uniform, reproducible across engines and cluster sizes); a doc is
    kept iff the running token total BEFORE it is under its source's
    budget, so the budget is met inclusively by the crossing doc.

    ``budgets``: int (same budget for every source) or {source: budget};
    sources absent from a dict are dropped (an explicit mixture).

    Scale shape — the naive form is a per-source running-total window,
    which serializes a 20 TB source into one task.  Instead, two passes:
    pass 1 aggregates token sums per (source, hash-range bucket) — a
    <= sources x n_buckets table collected to the driver — and prefix
    sums locate each source's BOUNDARY bucket; every bucket strictly
    below the boundary is kept with no window at all, and only the
    boundary bucket's rows (~1/n_buckets of the source) run the exact
    running-total window seeded with the buckets-before mass.  Same
    verified-sliver philosophy as stratified_sample.

    Output: (source, id, n_tokens, cum_before) for kept docs."""
    from pyspark.sql import Window

    h, a, b, P = _portable_affine(id_col, seed)
    tok = F.col(token_col) if isinstance(token_col, str) else token_col
    base = df.select(
        F.col(source_col).alias("source"), F.col(id_col).alias("id"),
        tok.cast("long").alias("n_tokens"), h.alias("_h"),
    ).where(F.col("n_tokens") > 0)
    base = base.withColumn(
        "_bkt", (F.col("_h") * n_buckets / F.lit(P)).cast("long"))

    per_bucket = (base.groupBy("source", "_bkt")
                  .agg(F.sum("n_tokens").alias("_t")).collect())
    sums: dict = {}
    for r in per_bucket:
        sums.setdefault(r.source, {})[r._bkt] = r._t

    def budget_of(src):
        if isinstance(budgets, dict):
            return budgets.get(src)
        return int(budgets)

    full_rows = []    # (source, bkt_below) — keep whole buckets < boundary
    boundary = []     # (source, boundary_bkt, mass_before)
    for src, bkts in sums.items():
        bud = budget_of(src)
        if bud is None or bud <= 0:
            continue
        acc = 0
        bstar = None
        for bkt in sorted(bkts):
            if acc >= bud:
                break
            if acc + bkts[bkt] >= bud:
                bstar = bkt
                boundary.append((src, bkt, acc))
                break
            acc += bkts[bkt]
        # buckets fully inside the budget
        full_rows.append((src, bstar if bstar is not None else 1 << 62, acc))

    spark = df.sparkSession
    if not full_rows:
        return base.limit(0).select("source", "id", "n_tokens",
                                    F.lit(0).cast("long").alias("cum_before"))
    full_df = spark.createDataFrame(
        full_rows, "source string, _bstar long, _acc long")
    kept_full = (base.join(F.broadcast(full_df), "source")
                 .where(F.col("_bkt") < F.col("_bstar")))
    # exact running total inside each boundary bucket only
    out_full = kept_full.select("source", "id", "n_tokens",
                                F.lit(None).cast("long").alias("cum_before"))
    if boundary:
        bdf = spark.createDataFrame(
            boundary, "source string, _bkt long, _before long")
        w = Window.partitionBy("source").orderBy(F.col("_h").asc(),
                                                 F.col("id").asc())
        bb = (base.join(F.broadcast(bdf), ["source", "_bkt"])
              .withColumn("_cum",
                          F.col("_before") + F.sum("n_tokens").over(w)
                          - F.col("n_tokens")))
        buds = [(s, budget_of(s)) for s in sums if budget_of(s) is not None]
        bud_df = spark.createDataFrame(buds, "source string, _bud long")
        out_b = (bb.join(F.broadcast(bud_df), "source")
                 .where(F.col("_cum") < F.col("_bud"))
                 .select("source", "id", "n_tokens",
                         F.col("_cum").alias("cum_before")))
        out_full = out_full.unionByName(out_b)
    return out_full


def token_budget_sample_sql(table: str, source_col: str, token_expr: str,
                            budget: int, id_col: str = "doc_id",
                            seed: int = 13) -> str:
    """DuckDB twin (uniform budget): plain per-source running-total
    window over the same portable hash order — the semantics the
    two-pass plan reproduces exactly (minus the cum_before column for
    non-boundary rows, which the Spark plan leaves NULL by design; align
    on (source, id, n_tokens) for value comparison)."""
    from karta_spark.operators.dedup import _PORTABLE_P
    import random as _random
    rng = _random.Random(seed)
    a, b = rng.randrange(1, _PORTABLE_P), rng.randrange(0, _PORTABLE_P)
    return f"""
WITH t AS (
  SELECT {source_col} AS source, {id_col} AS id,
         CAST({token_expr} AS BIGINT) AS n_tokens,
         ({a} * (CAST({id_col} AS BIGINT) % {_PORTABLE_P}) + {b})
           % {_PORTABLE_P} AS h
  FROM {table} WHERE {token_expr} > 0
), c AS (
  SELECT source, id, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY source ORDER BY h, id
                             ROWS UNBOUNDED PRECEDING) - n_tokens AS cum_before
  FROM t
)
SELECT source, id, n_tokens FROM c WHERE cum_before < {budget}
"""


#: portable PII patterns — RE2-safe (no lookaround/backrefs) so the SAME
#: pattern runs in Spark (Java regex) and DuckDB (RE2) byte-for-byte
PII_EMAIL = r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}"
PII_PHONE = (r"(?:\+?[0-9]{1,3}[-. ])?\(?[0-9]{3}\)?[-. ]"
             r"[0-9]{3}[-. ][0-9]{4}")
PII_IPV4 = (r"\b(?:25[0-5]|2[0-4][0-9]|1[0-9]{2}|[1-9]?[0-9])"
            r"(?:\.(?:25[0-5]|2[0-4][0-9]|1[0-9]{2}|[1-9]?[0-9])){3}\b")

_PII_PATTERNS = (("email", PII_EMAIL, "<EMAIL>"),
                 ("phone", PII_PHONE, "<PHONE>"),
                 ("ip", PII_IPV4, "<IP>"))


def redact_pii(col: Column) -> Column:
    """Redact emails, phone numbers and IPv4 addresses with typed
    placeholder tokens — the standard pre-training scrub stage.  Pure
    Catalyst regexp_replace chain; the patterns avoid lookaround and
    backreferences so the DuckDB twin executes the IDENTICAL regex
    (Java regex and RE2 agree on this subset)."""
    out = col
    for _, pat, token in _PII_PATTERNS:
        out = F.regexp_replace(out, pat, token)
    return out


def pii_flags(col: Column) -> list[Column]:
    """One boolean column per PII class (named has_<class>)."""
    return [col.rlike(pat).alias(f"has_{name}")
            for name, pat, _ in _PII_PATTERNS]


def pii_redact_sql(col_expr: str) -> str:
    """DuckDB twin of redact_pii (same patterns, 'g' flag for
    replace-all to match Spark's regexp_replace semantics)."""
    out = col_expr
    for _, pat, token in _PII_PATTERNS:
        esc = pat.replace("'", "''")
        out = f"regexp_replace({out}, '{esc}', '{token}', 'g')"
    return out


# ---------------------------------------------------------------------------
# exact repeated-substring spans (substring-level dedup signal)
# ---------------------------------------------------------------------------

def _flagged_positions(df: DataFrame, text_col: str, id_col: str,
                       L: int, min_docs: int, hashed: bool) -> DataFrame:
    """(id, pos) of every length-``L`` gram start whose gram occurs in
    >= ``min_docs`` distinct documents.  Shared engine of
    :func:`repeated_spans` / :func:`clip_repeated_spans`: map-side gram
    explode, ONE doc-frequency hash agg, equi-join flag-back."""
    n_pos = F.length(F.col(text_col)) - (L - 1)
    gram = F.col(text_col).substr(F.col("pos"), F.lit(L))
    # Docs shorter than L have no length-L gram.  The filter is load-
    # bearing: Spark's sequence(1, 0) counts DOWN ([1, 0]), so without it
    # every short doc would emit two spurious gram rows (and diverge from
    # the SQL twin, whose generate_series is empty for stop < start).
    g = (df.where(F.length(F.col(text_col)) >= L)
         .select(F.col(id_col).alias("id"),
                 F.explode(F.sequence(F.lit(1), n_pos)).alias("pos"),
                 F.col(text_col))
         .select("id", "pos", gram.alias("gram")))
    if hashed:
        g = g.select("id", "pos", F.xxhash64("gram").alias("gram"))
    freq = (g.groupBy("gram")
            .agg(F.count_distinct("id").alias("df"))
            .where(F.col("df") >= min_docs)
            .select("gram"))
    return g.join(freq, "gram").select("id", "pos")


def repeated_spans(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", L: int = 20,
                   min_docs: int = 2, hashed: bool = True) -> DataFrame:
    """Per-document coverage of CROSS-DOCUMENT repeated substrings: every
    character position covered by a length-``L`` gram that also occurs in
    at least ``min_docs`` distinct documents.  This is the signal behind
    exact-substring deduplication of training corpora (clip or drop the
    duplicated spans): boilerplate, licenses, templated pages light up.

    Returns (id, n_flagged, dup_chars): the count of flagged gram
    positions and the number of distinct characters they cover (interval
    union computed with a per-doc lag window: each flagged position
    contributes min(L, pos - prev_pos) — no position-explosion).

    Scale shape: gram extraction is map-side (posexplode of a substring
    transform); doc-frequency is one hash agg on the gram key; the
    flag-back is an equi-join on the same key; the window partitions by
    document (bounded by doc length).  No all-pairs stage.  With
    ``hashed`` (the default — the 100 TB setting) the join key is
    xxhash64(gram), 8-byte shuffle keys; pass ``hashed=False`` to join
    raw grams so a DuckDB oracle can run the textually identical plan
    (engine hash functions differ; results are identical either way
    modulo 64-bit hash collisions).

    100 TB note: gram extraction emits O(text length) rows per document —
    inherent to exact-substring dedup in the gram formulation (map-side,
    never all-pairs).  At corpus scale run with ``hashed=True`` (default)
    and feed a length-capped corpus slice per job rather than the whole
    corpus in one application."""
    from pyspark.sql import Window

    flagged = _flagged_positions(df, text_col, id_col, L, min_docs, hashed)
    w = Window.partitionBy("id").orderBy("pos")
    prev = F.lag("pos").over(w)
    step = F.when(prev.isNull(), F.lit(L)).otherwise(
        F.least(F.lit(L), F.col("pos") - prev))
    return (flagged.withColumn("_c", step)
            .groupBy("id")
            .agg(F.count("*").cast("long").alias("n_flagged"),
                 F.sum("_c").cast("long").alias("dup_chars")))


def repeated_spans_sql(table: str, text_col: str = "text",
                       id_col: str = "doc_id", L: int = 20,
                       min_docs: int = 2) -> str:
    """DuckDB twin of :func:`repeated_spans` (unhashed plan)."""
    return f"""
WITH grams AS (
  SELECT {id_col} AS id, i.i AS pos, substr({text_col}, i.i, {L}) AS gram
  FROM {table},
       LATERAL (SELECT UNNEST(generate_series(1,
                greatest(length({text_col}) - {L - 1}, 0))) AS i) i
), freq AS (
  SELECT gram FROM grams GROUP BY gram
  HAVING count(DISTINCT id) >= {min_docs}
), flagged AS (
  SELECT g.id, g.pos FROM grams g JOIN freq USING (gram)
), stepped AS (
  SELECT id, pos,
         lag(pos) OVER (PARTITION BY id ORDER BY pos) AS prev
  FROM flagged
)
SELECT id, CAST(count(*) AS BIGINT) AS n_flagged,
       CAST(sum(CASE WHEN prev IS NULL THEN {L}
                     ELSE least({L}, pos - prev) END) AS BIGINT) AS dup_chars
FROM stepped GROUP BY id
"""


def clip_repeated_spans(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", L: int = 20,
                        min_docs: int = 2,
                        hashed: bool = True) -> DataFrame:
    """Exact-substring deduplication output: each document with every
    cross-document repeated span REMOVED — the clip step of
    exact-substring dedup for training corpora (boilerplate, licenses,
    templated pages cut out of the text itself, not just flagged).

    Returns (id, clean_text, removed_chars) for EVERY input document
    (clean docs pass through byte-identical, removed_chars = 0).

    Scale shape: the flagged-position stage is shared with
    :func:`repeated_spans` (map-side gram explode, one doc-frequency
    hash agg, equi-join flag-back).  Flagged positions collapse to
    merged [start, end] intervals with a per-doc lag window + running
    group sum (no position re-explosion); each doc then carries its
    interval list (bounded by doc length / L entries) through a single
    equi-join back to the text, and the cut is one Catalyst
    ``aggregate`` fold over the sorted intervals — no Python, no
    quadratic stage.  At the 100 TB setting keep ``hashed=True``
    (8-byte shuffle keys) and run per-corpus-shard jobs; the DuckDB twin
    (:func:`clip_repeated_spans_sql`) verifies via an independent
    per-character plan."""
    from pyspark.sql import Window

    flagged = _flagged_positions(df, text_col, id_col, L, min_docs, hashed)
    w = Window.partitionBy("id").orderBy("pos")
    prev = F.lag("pos").over(w)
    # new interval when the gap to the previous flagged start exceeds L
    # (spans [pos, pos+L-1] overlap or touch iff pos - prev <= L)
    newgrp = F.when(prev.isNull() | (F.col("pos") - prev > L), 1) \
        .otherwise(0)
    grp = F.sum(newgrp).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    ivs = (flagged.withColumn("_g", grp)
           .groupBy("id", "_g")
           .agg(F.min("pos").alias("start"),
                (F.max("pos") + (L - 1)).alias("end"))
           .groupBy("id")
           .agg(F.sort_array(
               F.collect_list(F.struct("start", "end"))).alias("ivs")))
    text = F.col(text_col)
    init = F.struct(F.lit("").alias("acc"), F.lit(0).alias("last"))
    clean = F.aggregate(
        F.col("ivs"), init,
        lambda s, iv: F.struct(
            F.concat(s["acc"],
                     text.substr(s["last"] + F.lit(1),
                                 iv["start"] - s["last"] - F.lit(1))
                     ).alias("acc"),
            iv["end"].alias("last")),
        lambda s: F.concat(
            s["acc"], text.substr(s["last"] + F.lit(1),
                                  F.length(text) - s["last"])))
    # Alias the interval table's id to a reserved name: if the caller's
    # id_col is literally "id", an F.col reference after the join would
    # be ambiguous (AnalysisException).
    ivs = ivs.withColumnRenamed("id", "_ivs_id")
    out = (df.join(ivs, df[id_col] == ivs["_ivs_id"], "left")
           .select(df[id_col].alias("id"),
                   F.when(F.col("ivs").isNull(), text)
                   .otherwise(clean).alias("clean_text"),
                   text.alias("_orig")))
    return out.select(
        "id", "clean_text",
        (F.length("_orig") - F.length("clean_text"))
        .cast("long").alias("removed_chars"))


def clip_repeated_spans_sql(table: str, text_col: str = "text",
                            id_col: str = "doc_id", L: int = 20,
                            min_docs: int = 2) -> str:
    """DuckDB twin of :func:`clip_repeated_spans` — deliberately a
    DIFFERENT plan (per-character covered-set anti-join + ordered
    string_agg) so the interval-merge fold is verified against an
    independent formulation, not a transliteration."""
    return f"""
WITH grams AS (
  SELECT {id_col} AS id, i.i AS pos, substr({text_col}, i.i, {L}) AS gram
  FROM {table},
       LATERAL (SELECT UNNEST(generate_series(1,
                greatest(length({text_col}) - {L - 1}, 0))) AS i) i
), freq AS (
  SELECT gram FROM grams GROUP BY gram
  HAVING count(DISTINCT id) >= {min_docs}
), flagged AS (
  SELECT g.id, g.pos FROM grams g JOIN freq USING (gram)
), covered AS (
  SELECT DISTINCT id, pos + d.d AS cpos
  FROM flagged, LATERAL (SELECT UNNEST(generate_series(0, {L - 1})) AS d) d
), chars AS (
  SELECT {id_col} AS id, i.i AS i, substr({text_col}, i.i, 1) AS ch
  FROM {table},
       LATERAL (SELECT UNNEST(generate_series(1, length({text_col}))) AS i) i
), cleaned AS (
  SELECT c.id,
         coalesce(string_agg(CASE WHEN v.cpos IS NULL THEN c.ch END, ''
                             ORDER BY c.i), '') AS clean_text,
         CAST(count(v.cpos) AS BIGINT) AS removed_chars
  FROM chars c LEFT JOIN covered v ON v.id = c.id AND v.cpos = c.i
  GROUP BY c.id
)
SELECT d.{id_col} AS id,
       coalesce(cl.clean_text, d.{text_col}) AS clean_text,
       coalesce(cl.removed_chars, 0) AS removed_chars
FROM {table} d LEFT JOIN cleaned cl ON cl.id = d.{id_col}
"""


# ---------------------------------------------------------------------------
# URL canonicalization — web-corpus dedup keys.  Crawl pipelines dedup
# pages by a normalized URL before (and alongside) content dedup; the
# reference has no text layer (beyond-reference op).  Pure Catalyst:
# regexp component extraction + higher-order array functions; no UDF.
# ---------------------------------------------------------------------------

_URL_TRACKING = r"^(utm_[A-Za-z0-9_]*|gclid|fbclid|msclkid|mc_eid)="
_URL_SCHEME = r"^([A-Za-z][A-Za-z0-9+.\-]*)://"
_URL_AUTH = r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)"
_URL_PATH = r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*([^?#]*)"
_URL_QUERY = r"^[A-Za-z][A-Za-z0-9+.\-]*://[^#?]*\?([^#]*)"


def canonical_url(col: Column) -> Column:
    """RFC-3986-flavoured canonical form of an absolute URL, the
    standard web-corpus dedup key: lowercase scheme+host, default ports
    (:80 http / :443 https) stripped, duplicate slashes collapsed,
    trailing slash dropped (except the root path), fragment dropped,
    tracking params (utm_*, gclid, fbclid, msclkid, mc_eid) removed and
    the remaining query params SORTED.  Strings without a scheme://
    part pass through trimmed (opaque keys stay stable).  All Catalyst:
    regexp extraction + filter/array_sort/array_join — no Python."""
    u = F.trim(col)
    scheme = F.lower(F.regexp_extract(u, _URL_SCHEME, 1))
    auth = F.lower(F.regexp_extract(u, _URL_AUTH, 1))
    host = F.when(scheme == "http", F.regexp_replace(auth, ":80$", "")) \
        .when(scheme == "https", F.regexp_replace(auth, ":443$", "")) \
        .otherwise(auth)
    path = F.regexp_replace(F.regexp_extract(u, _URL_PATH, 1),
                            "/{2,}", "/")
    path = F.regexp_replace(path, "(.)/$", "$1")
    path = F.when(path == "", F.lit("/")).otherwise(path)
    q = F.regexp_extract(u, _URL_QUERY, 1)
    keep = F.filter(
        F.split(q, "&"),
        lambda p: (p != "") & ~p.rlike(_URL_TRACKING))
    q2 = F.array_join(F.array_sort(keep), "&")
    canon = F.concat(
        scheme, F.lit("://"), host, path,
        F.when(q2 == "", F.lit("")).otherwise(F.concat(F.lit("?"), q2)))
    return F.when(scheme == "", u).otherwise(canon)


def canonical_url_sql(col_expr: str) -> str:
    """DuckDB twin of canonical_url — identical patterns and steps
    (backreference syntax \\1 vs Spark's $1 is the only divergence)."""
    u = f"trim({col_expr})"
    scheme = f"lower(regexp_extract({u}, '{_URL_SCHEME}', 1))"
    auth = f"lower(regexp_extract({u}, '{_URL_AUTH}', 1))"
    host = (f"CASE WHEN {scheme} = 'http' "
            f"THEN regexp_replace({auth}, ':80$', '') "
            f"WHEN {scheme} = 'https' "
            f"THEN regexp_replace({auth}, ':443$', '') "
            f"ELSE {auth} END")
    path0 = (f"regexp_replace(regexp_extract({u}, '{_URL_PATH}', 1), "
             f"'/{{2,}}', '/', 'g')")
    path1 = f"regexp_replace({path0}, '(.)/$', '\\1')"
    path = f"CASE WHEN {path1} = '' THEN '/' ELSE {path1} END"
    q = f"regexp_extract({u}, '{_URL_QUERY}', 1)"
    keep = (f"list_filter(string_split({q}, '&'), "
            f"p -> p <> '' AND NOT regexp_matches(p, '{_URL_TRACKING}'))")
    # coalesce: DuckDB's array_to_string yields NULL on an empty list
    # (Spark's array_join yields '')
    q2 = f"coalesce(array_to_string(list_sort({keep}), '&'), '')"
    canon = (f"{scheme} || '://' || {host} || {path} || "
             f"CASE WHEN {q2} = '' THEN '' ELSE '?' || {q2} END")
    return f"CASE WHEN {scheme} = '' THEN {u} ELSE {canon} END"


# ---------------------------------------------------------------------------
# HTML -> text extraction — the first step of every web-corpus pipeline
# (crawl WARC/WET production).  Pure Catalyst regexp chain with a
# step-identical DuckDB twin; the reference has no text layer (beyond-
# reference op).  Scope: tag/script/style/comment stripping, block-tag
# newlines, the common named entities, whitespace normalization.
# Arbitrary numeric character references are NOT decoded (documented).
# ---------------------------------------------------------------------------

# ordered (pattern, replacement) chain — shared verbatim by both engines
# (no backreferences, no lookaround: must stay RE2-compatible for DuckDB)
# the common named entities (&amp; last so &amp;lt; decodes one level)
_ENTITIES = (
    (r"&nbsp;", " "),
    (r"&lt;", "<"),
    (r"&gt;", ">"),
    (r"&quot;", "\""),
    (r"&#39;", "'"),
    (r"&apos;", "'"),
    (r"&amp;", "&"),
)

_HTML_STEPS = (
    (r"(?is)<script\b[^>]*>.*?</script\s*>", " "),
    (r"(?is)<style\b[^>]*>.*?</style\s*>", " "),
    (r"(?s)<!--.*?-->", " "),
    (r"(?i)</?(?:p|div|h[1-6]|li|tr|table|ul|ol|blockquote|section|article"
     r"|header|footer|title)\b[^>]*>|<br\s*/?>", "\n"),
    (r"<[^>]*>", " "),
) + _ENTITIES + (
    # \x0B listed explicitly: Java \s includes it, RE2 \s does not —
    # after this step the later \s* steps only ever see [ \n] (parity)
    (r"[ \t\r\f\x0B]+", " "),
    (r"\s*\n\s*", "\n"),
    # trim() strips only spaces in both engines; anchor-trim newlines too
    (r"^\s+", ""),
    (r"\s+$", ""),
)

_HREF_RE = r"(?i)<a\b[^>]*?href\s*=\s*[\"']([^\"'>]+)[\"']"
_TITLE_RE = r"(?is)<title[^>]*>(.*?)</title\s*>"


def html_to_text(col: Column) -> Column:
    """Strip an HTML document to visible text: script/style/comment
    blocks dropped, block-level tags become newlines, inline tags
    become spaces, common named entities decoded, whitespace
    normalized.  Pure Catalyst (14 regexp_replace steps, JVM-side);
    the DuckDB twin (``html_to_text_sql``) runs the identical chain."""
    out = col
    for pat, rep in _HTML_STEPS:
        out = F.regexp_replace(out, pat, rep)
    return F.trim(out)


def html_to_text_sql(col_expr: str) -> str:
    out = col_expr
    for pat, rep in _HTML_STEPS:
        p = pat.replace("'", "''")
        r = rep.replace("'", "''")
        out = f"regexp_replace({out}, '{p}', '{r}', 'g')"
    return f"trim({out})"


_BLOCK_TAG_RE = (r"(?is)</?(?:p|div|section|article|main|aside|nav|"
                 r"footer|header|td|th|li|ul|ol|table|h[1-6]|"
                 r"blockquote|br|form)\b[^>]*>")
_DROP_BLOCK_RE = (r"(?is)<(script|style|noscript|svg|template)\b.*?"
                  r"</\1\s*>")
_SIMPLE_ENTITIES = (("&nbsp;", " "), ("&amp;", "&"), ("&lt;", "<"),
                    ("&gt;", ">"), ("&quot;", '"'), ("&#39;", "'"))


def main_content_blocks(html: str, min_len: int = 25,
                        max_link_density: float = 1.0 / 3.0
                        ) -> list[str]:
    """Boilerplate removal by block text-density (the jusText /
    readability heuristic family): split on block-level tags, strip
    inline markup per block, keep blocks with enough text and a low
    link-text density.  Navigation bars, footers, and cookie banners
    are short and/or link-dense, so they drop; article paragraphs
    survive.  Deterministic — no tuning state."""
    import re as _re
    h = _re.sub(_DROP_BLOCK_RE, " ", html)
    h = _re.sub(r"(?s)<!--.*?-->", " ", h)
    kept = []
    for part in _re.split(_BLOCK_TAG_RE, h):
        if not part or part.isspace():
            continue
        link_chars = sum(
            len(_re.sub(r"(?s)<[^>]*>", "", m))
            for m in _re.findall(r"(?is)<a\b[^>]*>(.*?)</a\s*>", part))
        text = _re.sub(r"(?s)<[^>]*>", " ", part)
        for ent, rep in _SIMPLE_ENTITIES:
            text = text.replace(ent, rep)
        text = " ".join(text.split())
        if len(text) >= min_len and link_chars <= len(text) * max_link_density:
            kept.append(text)
    return kept


def main_content(df: DataFrame, html_col: str, id_col: str,
                 min_len: int = 25,
                 max_link_density: float = 1.0 / 3.0) -> DataFrame:
    """Arrow-batched main-content extraction: one row per document
    with the boilerplate-stripped text (kept blocks newline-joined)
    and the block census.  The per-document work is independent —
    row-level parallelism, no shuffle at any corpus size."""
    import pandas as pd

    id_type = df.schema[id_col].dataType.simpleString()

    def run(batches):
        for pdf in batches:
            ids, contents, n_kept, n_total = [], [], [], []
            import re as _re
            for did, html in zip(pdf[id_col], pdf[html_col]):
                html = html or ""
                total = sum(
                    1 for p in _re.split(_BLOCK_TAG_RE,
                                         _re.sub(_DROP_BLOCK_RE, " ", html))
                    if p and not p.isspace())
                blocks = main_content_blocks(html, min_len,
                                             max_link_density)
                ids.append(did)
                contents.append("\n".join(blocks))
                n_kept.append(len(blocks))
                n_total.append(total)
            yield pd.DataFrame({"id": ids, "content": contents,
                                "n_blocks_kept": n_kept,
                                "n_blocks_total": n_total})

    return df.mapInPandas(
        run, f"id {id_type}, content string, n_blocks_kept int, "
             "n_blocks_total int")


def extract_links(col: Column) -> Column:
    """All ``<a href=...>`` targets, document order (array<string>)."""
    return F.regexp_extract_all(col, F.lit(_HREF_RE), 1)


def extract_links_sql(col_expr: str) -> str:
    p = _HREF_RE.replace("'", "''")
    return f"regexp_extract_all({col_expr}, '{p}', 1)"


def html_title(col: Column) -> Column:
    """Contents of the first ``<title>`` element, entities decoded
    ('' when absent)."""
    out = F.regexp_extract(col, _TITLE_RE, 1)
    for pat, rep in _ENTITIES:
        out = F.regexp_replace(out, pat, rep)
    return F.trim(out)


def html_title_sql(col_expr: str) -> str:
    p = _TITLE_RE.replace("'", "''")
    out = f"regexp_extract({col_expr}, '{p}', 1)"
    for pat, rep in _ENTITIES:
        pe = pat.replace("'", "''")
        re_ = rep.replace("'", "''")
        out = f"regexp_replace({out}, '{pe}', '{re_}', 'g')"
    return f"trim({out})"


# ---------------------------------------------------------------------------
# Line-level corpus dedup — the C4 boilerplate rule ("drop any line that
# occurs more than N times in the dataset").  Catches nav bars, cookie
# banners, subscribe prompts that slip past document-level dedup.  The
# reference has no text layer (beyond-reference op).
# ---------------------------------------------------------------------------

def dedup_lines(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id", max_df: int = 2,
                min_chars: int = 1, hashed: bool = True) -> DataFrame:
    """Remove every line whose corpus-wide occurrence count exceeds
    ``max_df`` (lines shorter than ``min_chars`` are exempt — blank
    separators survive).  Returns ``id_col, text (cleaned),
    n_lines_kept, n_lines_removed``.

    Plan shape (the 100 TB shape): one map-side posexplode of lines,
    ONE hash aggregate for corpus line frequencies, an equi-join back,
    and a per-doc sort_array reassembly — no window over the corpus, no
    self-join.  ``hashed=True`` (default) shuffles 8-byte xxhash64 keys
    instead of raw line text; the DuckDB oracle twin runs the
    ``hashed=False`` plan (engine-portable keys), same results.
    """
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n"))
        .alias("pos", "line"))
    key = F.xxhash64("line") if hashed else F.col("line")
    lines = lines.withColumn("k", key) \
        .withColumn("eligible", F.length("line") >= min_chars)
    freq = (lines.where(F.col("eligible"))
            .groupBy("k").agg(F.count("*").alias("line_df")))
    tagged = (lines.join(freq, "k", "left")
              .withColumn("keep", ~F.col("eligible")
                          | (F.col("line_df") <= max_df)))
    agg = (tagged.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(
                    F.when(F.col("keep"),
                           F.struct(F.col("pos"), F.col("line"))))),
                lambda s: s["line"]), "\n").alias("text"),
        F.sum(F.col("keep").cast("long")).alias("n_lines_kept"),
        F.sum((~F.col("keep")).cast("long")).alias("n_lines_removed")))
    return df.select(id_col).join(agg, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("text"), F.lit("")).alias("text"),
        F.coalesce(F.col("n_lines_kept"), F.lit(0)).alias("n_lines_kept"),
        F.coalesce(F.col("n_lines_removed"), F.lit(0))
        .alias("n_lines_removed"))


def dedup_lines_sql(table: str, text_col: str = "text",
                    id_col: str = "doc_id", max_df: int = 2,
                    min_chars: int = 1) -> str:
    """DuckDB twin of ``dedup_lines`` (unhashed keys, same algebra)."""
    return f"""
WITH split AS (
  SELECT {id_col}, string_split({text_col}, chr(10)) AS ls FROM {table}
), lines AS (
  SELECT {id_col}, unnest(ls) AS line, generate_subscripts(ls, 1) AS pos
  FROM split
), freq AS (
  SELECT line, count(*) AS line_df FROM lines
  WHERE length(line) >= {min_chars} GROUP BY line
), tagged AS (
  SELECT l.{id_col}, l.pos, l.line,
         (length(l.line) < {min_chars} OR f.line_df <= {max_df}) AS keep
  FROM lines l LEFT JOIN freq f ON l.line = f.line
), agg AS (
  SELECT {id_col},
         string_agg(CASE WHEN keep THEN line END, chr(10)
                    ORDER BY pos) FILTER (WHERE keep) AS text,
         CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
           AS n_lines_kept,
         CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT)
           AS n_lines_removed
  FROM tagged GROUP BY {id_col}
)
SELECT d.{id_col} AS {id_col}, coalesce(a.text, '') AS text,
       coalesce(a.n_lines_kept, 0) AS n_lines_kept,
       coalesce(a.n_lines_removed, 0) AS n_lines_removed
FROM (SELECT DISTINCT {id_col} FROM {table}) d
LEFT JOIN agg a ON a.{id_col} = d.{id_col}
"""


# ---------------------------------------------------------------------------
# C4-style line/page filters — the classic cleaning pass (Raffel et al.
# 2020 §2.2): keep only lines ending in terminal punctuation with at
# least N words; drop pages with too few sentences or blocklist terms.
# RE2-safe (no lookaround) so DuckDB runs the identical rules.
# ---------------------------------------------------------------------------

_TERMINAL = r'[.!?"]$'


def c4_clean(df: DataFrame, text_col: str = "text",
             id_col: str = "doc_id", min_words: int = 3,
             min_sentences: int = 2) -> DataFrame:
    """Apply the C4 line + page rules.  Returns
    ``id_col, text (kept lines), n_lines_kept, n_lines_dropped,
    n_sentences, kept (page-level verdict)``.

    All Catalyst: split -> filter/transform HOFs -> array_join; the
    sentence count is the number of terminal-punctuation runs in the
    kept text.  No shuffle at all — a pure projection, which is the
    shape this runs at on a 100 TB corpus."""
    lines = F.split(F.col(text_col), "\n")

    def line_ok(ln):
        # regex-split word count (no nested lambda: keeps the Catalyst
        # tree small — this predicate is inlined at every reference)
        words = F.size(F.split(F.trim(ln), r"\s+"))
        return (ln.rlike(_TERMINAL) & (words >= min_words)
                & ~F.lower(ln).rlike("lorem ipsum")
                & ~ln.contains("{"))

    kept_arr = F.filter(lines, line_ok)
    clean = F.array_join(kept_arr, "\n")
    n_sent = F.size(F.regexp_extract_all(clean, F.lit(r'([.!?]+)'), 1))
    return df.select(
        F.col(id_col),
        clean.alias("text"),
        F.size(kept_arr).cast("long").alias("n_lines_kept"),
        (F.size(lines) - F.size(kept_arr)).cast("long")
        .alias("n_lines_dropped"),
        n_sent.cast("long").alias("n_sentences"),
        (n_sent >= min_sentences).alias("kept"))


def c4_clean_sql(table: str, text_col: str = "text",
                 id_col: str = "doc_id", min_words: int = 3,
                 min_sentences: int = 2) -> str:
    """DuckDB twin — identical rules via list HOFs."""
    lines = f"string_split({text_col}, chr(10))"
    ok = (f"ln -> regexp_matches(ln, '{_TERMINAL}') "
          f"AND len(string_split_regex(trim(ln), '\\s+')) >= {min_words} "
          f"AND NOT regexp_matches(lower(ln), 'lorem ipsum') "
          f"AND NOT contains(ln, '{{')")
    kept = f"list_filter({lines}, {ok})"
    clean = f"coalesce(array_to_string({kept}, chr(10)), '')"
    nsent = f"len(regexp_extract_all({clean}, '([.!?]+)'))"
    return f"""
SELECT {id_col},
       {clean} AS text,
       CAST(len({kept}) AS BIGINT) AS n_lines_kept,
       CAST(len({lines}) - len({kept}) AS BIGINT) AS n_lines_dropped,
       CAST({nsent} AS BIGINT) AS n_sentences,
       {nsent} >= {min_sentences} AS kept
FROM {table}
"""


# ---------------------------------------------------------------------------
# Gopher quality rules (Rae et al. 2021, table A1) — the other canonical
# published filter set beside C4's.  Deterministic, RE2-safe, engine-
# identical; each rule surfaces as its own boolean so downstream
# pipelines can tune which to enforce.
# ---------------------------------------------------------------------------

_GOPHER_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality(col: Column, *, min_words: int = 50,
                   max_words: int = 100_000) -> dict:
    """Returns a dict of named boolean Columns (plus ``pass`` = AND of
    all): word-count bounds, mean word length in [3, 10], symbol-to-
    word ratio (# / ellipsis) < 0.1, < 90% bullet lines, < 30%
    ellipsis-ended lines, >= 80% words with an alphabetic char, >= 2
    distinct Gopher stop words.  Pure Catalyst projection."""
    t = F.coalesce(col, F.lit(""))
    words = F.split(F.trim(t), r"\s+")
    n_words = F.when(F.length(F.trim(t)) == 0, F.lit(0)) \
        .otherwise(F.size(words))
    nw = n_words.cast("double")
    mean_len = F.when(n_words == 0, F.lit(0.0)).otherwise(
        F.length(F.regexp_replace(F.trim(t), r"\s+", "")).cast("double")
        / nw)
    n_hash = F.size(F.regexp_extract_all(t, F.lit(r"(#)"), 1))
    n_ell = F.size(F.regexp_extract_all(t, F.lit(r"(\.\.\.)"), 1))
    lines = F.split(t, "\n")
    n_lines = F.size(lines)
    n_bullet = F.size(F.filter(
        lines, lambda ln: F.trim(ln).rlike(r"^[-*•]")))
    n_ell_end = F.size(F.filter(
        lines, lambda ln: ln.rlike(r"\.\.\.$")))
    n_alpha_words = F.size(F.filter(
        words, lambda w: w.rlike("[A-Za-z]")))
    n_stops = sum(
        (F.lower(t).rlike(r"\b" + w + r"\b")).cast("int")
        for w in _GOPHER_STOPS)
    rules = {
        "word_count_ok": (n_words >= min_words) & (n_words <= max_words),
        "mean_word_len_ok": (mean_len >= 3.0) & (mean_len <= 10.0),
        "symbol_ratio_ok": (n_hash + n_ell).cast("double")
        < 0.1 * F.greatest(nw, F.lit(1.0)),
        "bullet_ok": n_bullet.cast("double")
        < 0.9 * n_lines.cast("double"),
        "ellipsis_ok": n_ell_end.cast("double")
        < 0.3 * n_lines.cast("double"),
        "alpha_ok": n_alpha_words.cast("double")
        >= 0.8 * F.greatest(nw, F.lit(1.0)),
        "stopword_ok": n_stops >= 2,
    }
    allok = None
    for v in rules.values():
        allok = v if allok is None else (allok & v)
    rules["pass"] = allok
    return rules


def gopher_quality_sql(col_expr: str, *, min_words: int = 50,
                       max_words: int = 100_000) -> dict:
    """DuckDB twins (same names, same algebra)."""
    t = f"coalesce({col_expr}, '')"
    n_words = (f"CASE WHEN length(trim({t})) = 0 THEN 0 "
               f"ELSE len(string_split_regex(trim({t}), '\\s+')) END")
    mean_len = (f"CASE WHEN ({n_words}) = 0 THEN 0.0 ELSE "
                f"CAST(length(regexp_replace(trim({t}), '\\s+', '', 'g'))"
                f" AS DOUBLE) / ({n_words}) END")
    n_hash = f"len(regexp_extract_all({t}, '(#)'))"
    n_ell = f"len(regexp_extract_all({t}, '(\\.\\.\\.)'))"
    lines = f"string_split({t}, chr(10))"
    n_lines = f"len({lines})"
    n_bullet = (f"len(list_filter({lines}, "
                f"ln -> regexp_matches(trim(ln), '^[-*•]')))")
    n_ell_end = (f"len(list_filter({lines}, "
                 f"ln -> regexp_matches(ln, '\\.\\.\\.$')))")
    words = f"string_split_regex(trim({t}), '\\s+')"
    n_alpha = (f"len(list_filter({words}, "
               f"w -> regexp_matches(w, '[A-Za-z]')))")
    n_stops = " + ".join(
        f"CASE WHEN regexp_matches(lower({t}), '\\b{w}\\b') "
        f"THEN 1 ELSE 0 END" for w in _GOPHER_STOPS)
    rules = {
        "word_count_ok": f"(({n_words}) >= {min_words} "
                         f"AND ({n_words}) <= {max_words})",
        "mean_word_len_ok": f"(({mean_len}) >= 3.0 "
                            f"AND ({mean_len}) <= 10.0)",
        "symbol_ratio_ok": f"(CAST(({n_hash}) + ({n_ell}) AS DOUBLE) "
                           f"< 0.1 * greatest(CAST({n_words} AS DOUBLE),"
                           f" 1.0))",
        "bullet_ok": f"(CAST({n_bullet} AS DOUBLE) "
                     f"< 0.9 * CAST({n_lines} AS DOUBLE))",
        "ellipsis_ok": f"(CAST({n_ell_end} AS DOUBLE) "
                       f"< 0.3 * CAST({n_lines} AS DOUBLE))",
        "alpha_ok": f"(CAST({n_alpha} AS DOUBLE) "
                    f">= 0.8 * greatest(CAST({n_words} AS DOUBLE), 1.0))",
        "stopword_ok": f"(({n_stops}) >= 2)",
    }
    rules["pass"] = "(" + " AND ".join(rules.values()) + ")"
    return rules
