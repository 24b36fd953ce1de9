"""Deduplication operators for the documents table.

First-class large-scale-pipeline ops (not in the reference, which has only
point-set duplicate bucketing at quadtree build, quadtree.pyx:88-95):

- exact dedup           — hash groupBy, keep lowest id
- n-gram Jaccard pairs  — explode distinct grams, one groupBy into per-gram
                          id lists, HOF pair explosion (no self-join), exact
                          |A∩B| / |A∪B| — fully SQL-expressible (q17's oracle)
- MinHash + LSH         — numpy signature kernel in a pandas UDF, banded
                          bucket join, exact-Jaccard verify of candidates
- SimHash               — 64-bit token-hash sketch + hamming-band join
- embedding near-dup    — exact cosine of every pair within a block key
                          (q19's oracle)

All shuffles are keyed on content hashes (uniform by construction — no skew
salting needed); candidate generation never crosses buckets, so the O(n^2)
blowup is bounded per bucket.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegralType, LongType


def exact_dedup(df: DataFrame, cols: list[str], id_col: str) -> DataFrame:
    """Keep one row (lowest id) per distinct value of *cols*."""
    w = Window.partitionBy(*cols).orderBy(F.col(id_col).asc())
    return df.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).drop("_rn")


def duplicate_groups(df: DataFrame, cols: list[str], id_col: str) -> DataFrame:
    """(canonical_id, n_dups) per content group with >= 1 row."""
    return df.groupBy(*cols).agg(
        F.min(id_col).alias("canonical_id"), F.count("*").alias("n_dups")
    ).select("canonical_id", "n_dups")


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact)
# ---------------------------------------------------------------------------

_ID_LIMIT = 4294967296  # 2^32: a pair packs into one long as a * 2^32 + b


def ngram_jaccard_pairs(df: DataFrame, id_col: str, grams, threshold: float,
                        max_df: int | None = None) -> DataFrame:
    """Exact pairwise Jaccard of the gram sets (id_a < id_b), rounded to
    6 digits and kept when the ROUNDED value is >= threshold: that is the
    filter the SQL oracle of the q17 gate applies, so a pair whose exact
    Jaccard lies just under the threshold but rounds onto it is kept.

    ``grams`` is an array Column over *df*; what a gram is (a character
    n-gram, a hashed word trigram) is the caller's choice.  ``max_df``
    caps gram document frequency: a stop-gram shared by f documents makes
    f^2 candidate pairs, so grams in more than max_df documents are dropped
    BEFORE sizes and intersections, and the result is the exact Jaccard of
    the capped sets.

    Plan: ONE scan explodes the distinct grams, groupBy(gram) collects each
    gram's sorted id list, lists longer than max_df are dropped and the
    small grouped table is localCheckpoint-ed -- the one Spark action that
    building this plan runs.  A HOF pair explosion over each list gives the
    intersections (no self-join), and the lists' members give the set sizes.
    collect_list builds a gram's whole id list before the max_df filter
    drops it, so one gram in millions of documents builds a list that long.
    A pair travels as one long, a * 2^32 + b, so ids must be integral and
    in [0, 2^32): a non-integral *id_col* raises ValueError here, and an id
    outside that range fails the query."""
    dt = df.schema[id_col].dataType
    if not isinstance(dt, IntegralType):
        raise ValueError(f"id column {id_col!r} is {dt.simpleString()}, "
                         "not an integral type")
    raw = F.col(id_col)
    checked = F.when((raw < 0) | (raw >= _ID_LIMIT), F.raise_error(F.concat(
        F.lit(f"{id_col} outside [0, 2^32): "), raw.cast("string")))).otherwise(raw)
    sh = df.select(checked.alias("id"), F.explode(F.array_distinct(grams)).alias("gram"))
    grp = sh.groupBy("gram").agg(F.array_sort(F.collect_list("id")).alias("ids"))
    if max_df is not None:
        grp = grp.where(F.size("ids") <= max_df)
    grp = grp.select("ids").localCheckpoint()
    ids = F.col("ids")
    # ids are sorted, so a < b; a flat array<long> materializes ~25% faster
    # than array<struct> through the explode + hash agg (1.24 s vs 1.54 s
    # on this stage of q17 at sf0.1)
    pairs = F.flatten(F.transform(ids, lambda x, i:
        F.transform(F.slice(ids, i + F.lit(2), F.size(ids)),
                    lambda y: x * F.lit(_ID_LIMIT) + y)))
    inter = (grp.select(F.explode(pairs).alias("p"))
             .groupBy("p").agg(F.count("*").alias("inter"))
             .select(F.shiftrightunsigned("p", 32).alias("id_a"),
                     F.col("p").bitwiseAND(F.lit(_ID_LIMIT - 1)).alias("id_b"),
                     "inter"))
    sizes = grp.select(F.explode("ids").alias("id")).groupBy("id").agg(
        F.count("*").alias("sz"))
    return (
        inter
        .join(sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b")), "id_b")
        .withColumn("jaccard", F.round(
            F.col("inter").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------
#
# Every hash is plain int64 arithmetic over character code points, so an
# external SQL engine can replay it literally (minhash_portable_sql is the
# DuckDB twin the q21 gate checks against):
#
#   gram hash   h(g)   = (sum_i code(g_i) * 131^(n-i)) mod (2^31 - 1)
#   permutation h_j(g) = (a_j * h(g) + b_j) mod (2^31 - 1)
#
# over the distinct rpad(substr(t, i, n), n, chr(1)) grams of
# coalesce(t, ''), with (a_j, b_j) drawn from a seeded PRNG.  The same
# family drives the signature kernel, the band buckets, the candidate set
# and the exact-Jaccard verify.

_PORTABLE_P = 2147483647  # 2^31 - 1: a_j*h + b_j < 2^62 — no int64 overflow
_P64 = np.uint64(_PORTABLE_P)
_SIG_CHUNK = 128  # docs per kernel call: the flat temporaries stay cache-resident


def _portable_perm_params(num_perm: int, seed: int):
    import random as _random
    rng = _random.Random(seed)
    a = [rng.randrange(1, _PORTABLE_P) for _ in range(num_perm)]
    b = [rng.randrange(0, _PORTABLE_P) for _ in range(num_perm)]
    return a, b


def portable_gram_hash_sql(gram: str, n: int) -> str:
    """Polynomial rolling hash over the n chars of an rpad'ed gram — the
    SAME fragment parses as a Spark SQL expression and as DuckDB SQL.
    The mod at EVERY step keeps the accumulator < 2^31 * 131 + 0xFFFF
    < 2^63 for any n (without it, n >= 8 overflows int64 — silently
    wrapping in non-ANSI Spark while DuckDB errors)."""
    expr = f"CAST(ascii(substr({gram},1,1)) AS BIGINT)"
    for i in range(2, n + 1):
        expr = f"((({expr}) % {_PORTABLE_P})*131 + ascii(substr({gram},{i},1)))"
    return f"(({expr}) % {_PORTABLE_P})"


def _gram_hashes(texts, n: int):
    """Portable hashes of every n-char window of every text, concatenated
    doc-major, plus each doc's start offset into that flat array.

    A text shorter than n (empty and null included) is padded with
    chr(1) to exactly one window, as the SQL rpad does.  The per-step mod
    of ``portable_gram_hash_sql`` equals one mod of the whole polynomial;
    each term is < 2^21 * 2^31, so up to 4096 terms sum without uint64
    overflow.  Windows are not deduplicated: a min over a multiset equals
    the min over its distinct values."""
    if n > 4096:
        raise ValueError("shingle must be <= 4096")
    padded = [(t or "").ljust(n, "\x01") for t in texts]
    lens = np.fromiter(map(len, padded), dtype=np.int64, count=len(padded))
    # surrogatepass: a lone surrogate hashes as its code point
    cps = np.frombuffer("".join(padded).encode("utf-32-le", "surrogatepass"),
                        dtype=np.uint32).astype(np.uint64)
    n_win = cps.shape[0] - n + 1
    acc = np.zeros(n_win, dtype=np.uint64)
    for k in range(n):
        acc += cps[k:k + n_win] * np.uint64(pow(131, n - 1 - k, _PORTABLE_P))
    acc %= _P64
    # keep only windows that lie inside one doc
    win = lens - n + 1
    seg = np.cumsum(win) - win
    doc_start = np.cumsum(lens) - lens
    return acc[np.arange(win.sum()) + np.repeat(doc_start - seg, win)], seg


def _minhash_sig_batch(texts, shingle: int, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """(n_docs, num_perm) int64 signatures of a whole Arrow batch:
    sig[d, j] = min over doc d's grams of (a_j * h + b_j) mod (2^31 - 1).

    a_j*h + b_j < 2^62, and the Mersenne fold y = (t & p) + (t >> 31) is
    congruent to it with y <= 2p - 2.  Per-doc mins are reduceats over the
    flat doc-major hash array."""
    if len(texts) > _SIG_CHUNK:
        return np.concatenate(
            [_minhash_sig_batch(texts[i:i + _SIG_CHUNK], shingle, a, b)
             for i in range(0, len(texts), _SIG_CHUNK)], axis=0)
    sig = np.empty((len(texts), len(a)), dtype=np.uint64)
    if len(texts) == 0:
        # an empty Arrow batch (empty partition / upstream filter)
        return sig.view(np.int64)
    hv, seg = _gram_hashes(texts, shingle)
    t = np.empty_like(hv)
    y = np.empty_like(hv)
    for j in range(len(a)):
        np.multiply(hv, a[j], out=t)
        t += b[j]
        np.bitwise_and(t, _P64, out=y)
        t >>= np.uint64(31)
        y += t
        # y is r or r + p: min(y) is right unless some y >= p holds a smaller
        # r, and y - p (wrapping far above p when y < p) finds those
        m = np.minimum.reduceat(y, seg)
        np.subtract(y, _P64, out=t)
        np.minimum(m, np.minimum.reduceat(t, seg), out=sig[:, j])
    return sig.view(np.int64)


def minhash_signatures(
    df: DataFrame, text_col: str, id_col: str,
    num_perm: int = 64, shingle: int = 3, seed: int = 42,
) -> DataFrame:
    """(id, sig: array<long>) MinHash signatures of the portable family
    (section note), computed batch-at-a-time by ``_minhash_sig_batch``."""
    a, b = (np.array(v, dtype=np.uint64)
            for v in _portable_perm_params(num_perm, seed))

    @F.pandas_udf(ArrayType(LongType()))
    def sig_udf(texts: pd.Series) -> pd.Series:
        sig = _minhash_sig_batch(texts.tolist(), shingle, a, b)
        return pd.Series(list(sig))

    return df.select(F.col(id_col).alias("id"), sig_udf(F.col(text_col)).alias("sig"))


def oversized_bucket_stats(banded: DataFrame, keys, max_bucket: int) -> DataFrame:
    """Audit companion to the degenerate-bucket guard: per oversized
    (band, key) bucket, its member count and the candidate-pair mass
    n*(n-1)/2 that the guard will drop.  Run this (it is one groupBy)
    before an LSH self-join when silent recall loss is unacceptable; an
    empty result means the guard is a no-op on this corpus."""
    keys = list(keys)
    n = F.count("*")
    return (banded.groupBy(*keys)
            .agg(n.alias("members"),
                 (n * (n - F.lit(1)) / F.lit(2)).cast("long")
                 .alias("dropped_pairs"))
            .where(F.col("members") > max_bucket))


def _band_buckets(sigs: DataFrame, num_perm: int, bands: int) -> DataFrame:
    """(id, sig) -> (id, band, bucket): hash each signature slice to one
    bucket key per band — the LSH key table every variant shares.

    The bucket is xxhash64 over the band's signature LONGS directly
    (numeric multi-arg form).  The previous array<long> -> array<string>
    -> string cast chain cost ~1 s of JVM string work per 50k docs at 8
    bands (r8 measurement) for identical banding semantics: equal slices
    map to equal buckets under any deterministic hash, and the downstream
    verify absorbs the (negligible) cross-slice collision mass."""
    rows_per_band = num_perm // bands
    return sigs.select(
        "id",
        F.explode(F.array(*[
            F.struct(
                F.lit(i).alias("band"),
                F.xxhash64(F.lit(i), *[
                    F.element_at("sig", i * rows_per_band + j + 1)
                    for j in range(rows_per_band)
                ]).alias("bucket"),
            )
            for i in range(bands)
        ])).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")


def minhash_lsh_pairs(
    df: DataFrame, text_col: str, id_col: str,
    num_perm: int = 64, bands: int = 16, shingle: int = 3,
    threshold: float = 0.5, seed: int = 42, verify: bool = True,
    max_bucket: int | None = 4096,
) -> DataFrame:
    """Near-dup pairs via banded MinHash LSH, optionally verified with exact
    n-gram Jaccard on candidates only (the classic shingle->minhash->band->
    bucket-join pipeline).  ``minhash_portable_sql`` replays it in DuckDB.

    ``max_bucket``: a (band, bucket) holding f docs emits f^2/2 candidate
    pairs — one boilerplate-heavy bucket with 10^6 near-identical docs is
    quadratic death at corpus scale.  Buckets larger than max_bucket
    contribute no pairs; a bucket that size means near-identical mass that
    exact_dedup/cluster_representatives should absorb first.  Normal
    corpora never hit the cap, so pairs are unchanged; None disables the
    guard (as the SQL twin has none)."""
    from karta_spark.plans.layout import ensure_min_parallelism

    # an unsplittable single-file corpus scans as ONE task, serializing
    # the Arrow signature kernel; no-op when the input is already parallel
    df = ensure_min_parallelism(df)
    sigs = minhash_signatures(df, text_col, id_col, num_perm, shingle, seed)
    banded = _band_buckets(sigs, num_perm, bands)
    # Grouped posting-list candidate plan (same shape as the q17 n-gram
    # pipeline): ONE groupBy((band, bucket)) builds the sorted member
    # list, the size filter applies the oversized-bucket guard in the
    # same pass, and a HOF pair explosion emits each bucket's f*(f-1)/2
    # pairs — one shuffle, and the signature stage feeds a single consumer.
    size_ok = F.size(F.col("ids")) >= 2
    if max_bucket is not None:
        size_ok = size_ok & (F.size(F.col("ids")) <= max_bucket)
    grp = (banded.groupBy("band", "bucket")
           .agg(F.array_sort(F.collect_list("id")).alias("ids"))
           .where(size_ok).select("ids"))
    ids = F.col("ids")
    pair_structs = F.flatten(F.transform(ids, lambda x, i: F.transform(
        F.slice(ids, i + F.lit(2), F.size(ids)),
        lambda y: F.struct(x.alias("id_a"), y.alias("id_b")))))
    cand = (grp.select(F.explode(pair_structs).alias("p"))
            .select("p.id_a", "p.id_b").distinct())
    if not verify:
        return cand
    # exact-Jaccard verify as pure Catalyst set algebra over the same
    # distinct rpad'ed grams the signatures hash — zero Python.  Texts are
    # padded below the joins: inside the transform lambda the pad would be
    # re-evaluated for every gram.
    t = F.coalesce(F.col(text_col), F.lit(""))
    texts = df.select(F.col(id_col).alias("id"), F.rpad(
        t, F.greatest(F.length(t), F.lit(shingle)), F.lit("\x01")).alias("t"))
    pairs = (
        cand.join(texts.withColumnRenamed("id", "id_a").withColumnRenamed("t", "t_a"), "id_a")
        .join(texts.withColumnRenamed("id", "id_b").withColumnRenamed("t", "t_b"), "id_b")
    )

    def gram_set(col):
        idx = F.sequence(F.lit(1), F.length(col) - (shingle - 1))
        return F.array_distinct(F.transform(idx, lambda i: col.substr(i, F.lit(shingle))))

    ga, gb = gram_set(F.col("t_a")), gram_set(F.col("t_b"))
    jac = (F.size(F.array_intersect(ga, gb)).cast("double")
           / F.size(F.array_union(ga, gb)).cast("double"))
    return (
        pairs.withColumn("jaccard", jac)
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_portable_sql(
    table: str, text_col: str, id_col: str,
    num_perm: int = 64, bands: int = 8, shingle: int = 6,
    threshold: float = 0.5, seed: int = 42,
) -> str:
    """DuckDB twin of minhash_lsh_pairs (max_bucket=None) — same literals,
    same arithmetic, identical signatures, candidates and Jaccard values
    (Jaccard rounded to 6 digits)."""
    p = _PORTABLE_P
    a, b = _portable_perm_params(num_perm, seed)
    r = num_perm // bands
    n = shingle
    hash_expr = portable_gram_hash_sql("gram", n)
    mins = ",\n         ".join(
        f"min(({a[j]}*h + {b[j]}) % {p}) AS m{j}" for j in range(num_perm))
    band_arms = "\n  UNION ALL\n".join(
        "  SELECT id, {i} AS band, concat_ws(',', {cols}) AS bucket FROM sig".format(
            i=i, cols=", ".join(f"m{i * r + k}" for k in range(r)))
        for i in range(bands))
    return f"""
WITH g0 AS (
  SELECT {id_col} AS id,
         unnest(range(1, greatest(length(coalesce({text_col}, '')) - {n - 1}, 1) + 1)) AS i,
         coalesce({text_col}, '') AS t
  FROM {table}
),
grams AS (SELECT DISTINCT id, rpad(substr(t, i, {n}), {n}, chr(1)) AS gram FROM g0),
h AS (SELECT id, gram, {hash_expr} AS h FROM grams),
sig AS (SELECT id, {mins} FROM h GROUP BY id),
banded AS (
{band_arms}
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
),
sz AS (SELECT id, CAST(count(*) AS BIGINT) AS sz FROM grams GROUP BY 1),
inter AS (
  SELECT c.id_a, c.id_b, CAST(count(*) AS BIGINT) AS i
  FROM cand c
  JOIN grams ga ON ga.id = c.id_a
  JOIN grams gb ON gb.id = c.id_b AND ga.gram = gb.gram
  GROUP BY 1, 2
)
SELECT i.id_a, i.id_b,
       round(CAST(i.i AS DOUBLE) / (sa.sz + sb.sz - i.i), 6) AS jaccard
FROM inter i
JOIN sz sa ON i.id_a = sa.id
JOIN sz sb ON i.id_b = sb.id
WHERE round(CAST(i.i AS DOUBLE) / (sa.sz + sb.sz - i.i), 6) >= {threshold}
"""


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------
#
# Same portable arithmetic as MinHash (simhash_portable_sql is the DuckDB
# twin the q22 gate checks against): tokens are the non-empty pieces of
# split(trim(coalesce(t, '')), ' '), each hashed by the polynomial over
# its rpad'ed 12-char prefix; token hash h votes +1 on bit k when
# ((a_k*h + b_k) mod p) is odd, else -1, and bit k is set iff its summed
# vote is > 0 (ties -> 0, so a doc without tokens has simhash 0).

_SIMHASH_TOKLEN = 12  # token hash covers the first 12 chars (prefix hash)


def portable_token_hash_sql(tok: str, maxlen: int = _SIMHASH_TOKLEN) -> str:
    """Per-step-reduced polynomial hash over the rpad'ed token prefix —
    parses identically in Spark SQL and DuckDB.  The mod at every step
    keeps the accumulator < 2^31 * 131 + 2^16 < 2^63 for any length."""
    p = _PORTABLE_P
    padded = f"rpad(substr({tok},1,{maxlen}), {maxlen}, chr(1))"
    expr = f"CAST(ascii(substr({padded},1,1)) AS BIGINT)"
    for i in range(2, maxlen + 1):
        expr = f"((({expr}) % {p})*131 + ascii(substr({padded},{i},1)))"
    return f"(({expr}) % {p})"


def _simhash_bit_params(seed: int = 7):
    return _portable_perm_params(64, seed)


def _simhash_batch(texts, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """int64 SimHash per text, bit k driven by parameters (a_k, b_k)."""
    if len(texts) > _SIG_CHUNK:  # bounds the (tokens, 64) temporaries
        return np.concatenate([_simhash_batch(texts[i:i + _SIG_CHUNK], a, b)
                               for i in range(0, len(texts), _SIG_CHUNK)])
    toks = [[w for w in (t or "").split(" ") if w] for t in texts]
    ntok = np.fromiter((len(ts) for ts in toks), dtype=np.int64, count=len(toks))
    out = np.zeros((len(toks), 8), dtype=np.uint8)
    has = np.flatnonzero(ntok)
    if len(has):
        # a prefix pads to exactly one window: one gram hash per token
        h, _ = _gram_hashes([w[:_SIMHASH_TOKLEN] for ts in toks for w in ts],
                            _SIMHASH_TOKLEN)
        odd = ((h[:, None] * a + b) % _P64 & np.uint64(1)).astype(np.int64)
        seg = np.cumsum(ntok[has]) - ntok[has]
        votes = np.add.reduceat(odd, seg, axis=0)  # odd-vote count per bit
        out[has] = np.packbits(2 * votes > ntok[has, None], axis=1,
                               bitorder="little")
    return out.view("<i8")[:, 0]


def simhash(df: DataFrame, text_col: str, id_col: str,
            seed: int = 7) -> DataFrame:
    """(id, simhash long) 64-bit SimHash over space-separated tokens (see
    the section note), one numpy kernel per Arrow batch."""
    a, b = (np.array(v, dtype=np.uint64) for v in _simhash_bit_params(seed))

    @F.pandas_udf(LongType())
    def sim_udf(texts: pd.Series) -> pd.Series:
        return pd.Series(_simhash_batch(texts.tolist(), a, b))

    return df.select(F.col(id_col).alias("id"), sim_udf(F.col(text_col)).alias("simhash"))


def simhash_near_pairs(df: DataFrame, text_col: str, id_col: str,
                       max_hamming: int = 3,
                       max_bucket: int | None = 4096) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming via banded
    exact-match blocking.

    Recall guarantee is pigeonhole: splitting 64 bits into
    ``bands = max_hamming + 1`` bands, any pair differing in <= max_hamming
    bits must agree exactly on at least one band — so the band blocking
    itself never drops a qualifying pair (b bands only cover b-1 flips,
    which is why a fixed 4-band split silently lost hamming 4..8 pairs).

    The guarantee is CONDITIONAL on the degenerate-bucket guard: with the
    default ``max_bucket=4096``, a band bucket holding more members than
    the cap contributes no pairs, so pairs whose only agreeing band lands
    in such a bucket are lost.  Pass ``max_bucket=None`` for unconditional
    recall (quadratic risk on boilerplate-heavy corpora)."""
    sh = simhash(df, text_col, id_col)
    return hamming_near_pairs(sh, "simhash", "id", max_hamming, max_bucket)


def _band_layout(n_bands: int, nbits: int = 64):
    """Band widths (wider first) and bit offsets splitting nbits as evenly
    as possible — shared by the Spark blocking and the SQL twin."""
    base, extra = divmod(nbits, n_bands)
    widths = [base + (1 if i < extra else 0) for i in range(n_bands)]
    offsets = [sum(widths[:i]) for i in range(n_bands)]
    return widths, offsets


def hamming_near_pairs(df: DataFrame, sig_col: str, id_col: str,
                       max_hamming: int = 3,
                       max_bucket: int | None = 4096) -> DataFrame:
    """Near-dup pairs by hamming distance over ANY precomputed 64-bit
    signature column — e.g. the image **phash** of the BASELINE input
    table (perceptual near-dup image dedup at corpus scale), or a
    simhash.  Banded pigeonhole blocking: bands = max_hamming + 1, so a
    qualifying pair must agree exactly on >= 1 band; candidates come from
    one groupBy on (band, key) with the shared degenerate-bucket guard."""
    n_bands = max_hamming + 1
    if n_bands > 64:
        raise ValueError("max_hamming must be < 64 for 64-bit blocking")
    widths, offsets = _band_layout(n_bands)
    sh = df.select(F.col(id_col).alias("id"), F.col(sig_col).alias("_sig"))
    bands = sh.select(
        "id", "_sig",
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("band"),
                     F.shiftrightunsigned("_sig", offsets[i])
                     .bitwiseAND(F.lit((1 << widths[i]) - 1)).alias("key"))
            for i in range(n_bands)
        ])).alias("bb"),
    ).select("id", "_sig", "bb.band", "bb.key")
    # grouped posting-list candidates (see minhash_lsh_pairs): ONE
    # groupBy builds each bucket's sorted (id, sig) member list with the
    # oversized guard folded into the size filter, and a HOF pair
    # explosion emits the pairs
    size_ok = F.size(F.col("ms")) >= 2
    if max_bucket is not None:
        size_ok = size_ok & (F.size(F.col("ms")) <= max_bucket)
    grp = (bands.groupBy("band", "key")
           .agg(F.array_sort(F.collect_list(F.struct("id", "_sig")))
                .alias("ms"))
           .where(size_ok).select("ms"))
    ms = F.col("ms")
    pair_structs = F.flatten(F.transform(ms, lambda x, i: F.transform(
        F.slice(ms, i + F.lit(2), F.size(ms)),
        lambda y: F.struct(x["id"].alias("id_a"), y["id"].alias("id_b"),
                           x["_sig"].alias("sh_a"),
                           y["_sig"].alias("sh_b")))))
    cand = (grp.select(F.explode(pair_structs).alias("p"))
            .select("p.id_a", "p.id_b", "p.sh_a", "p.sh_b").distinct())
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return cand.withColumn("hamming", hamming).where(F.col("hamming") <= max_hamming) \
               .select("id_a", "id_b", "hamming")


def _hamming_sql(a: str, b: str, nbits: int = 64) -> str:
    terms = " + ".join(
        f"(CASE WHEN substr({a},{i},1) <> substr({b},{i},1) THEN 1 ELSE 0 END)"
        for i in range(1, nbits + 1))
    return f"CAST(({terms}) AS BIGINT)"


def simhash_portable_sql(
    table: str, text_col: str, id_col: str,
    max_hamming: int = 3, seed: int = 7,
) -> str:
    """DuckDB twin of simhash_near_pairs (max_bucket=None) — same literals,
    same tokenization, bit-identical signatures, candidates and hamming
    (the signature as a '0'/'1' string, char k+1 = bit k)."""
    a, b = _simhash_bit_params(seed)
    p = _PORTABLE_P
    n_bands = max_hamming + 1
    widths, offsets = _band_layout(n_bands)
    tok_hash = portable_token_hash_sql("tok")
    sums = ",\n         ".join(
        f"sum(({a[k]}*h + {b[k]}) % {p} % 2 * 2 - 1) AS s{k}" for k in range(64))
    bits_expr = "||".join(
        f"(CASE WHEN s{k} > 0 THEN '1' ELSE '0' END)" for k in range(64))
    band_arms = "\n  UNION ALL\n".join(
        f"  SELECT id, {i} AS band, substr(bits, {offsets[i] + 1}, {widths[i]}) AS key FROM sigs"
        for i in range(n_bands))
    return f"""
WITH toks0 AS (
  SELECT {id_col} AS id, unnest(string_split(trim(coalesce({text_col}, '')), ' ')) AS tok
  FROM {table}
),
toks AS (SELECT id, tok, {tok_hash} AS h FROM toks0 WHERE length(tok) > 0),
per AS (SELECT id, {sums} FROM toks GROUP BY id),
sigs0 AS (SELECT id, {bits_expr} AS bits FROM per),
sigs AS (
  SELECT d.{id_col} AS id, coalesce(s.bits, repeat('0', 64)) AS bits
  FROM {table} d LEFT JOIN sigs0 s ON d.{id_col} = s.id
),
banded AS (
{band_arms}
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b, sa.bits AS ba, sb.bits AS bb
  FROM banded a JOIN banded b ON a.band = b.band AND a.key = b.key AND a.id < b.id
  JOIN sigs sa ON sa.id = a.id JOIN sigs sb ON sb.id = b.id
)
SELECT id_a, id_b, {_hamming_sql("ba", "bb")} AS hamming
FROM cand
WHERE {_hamming_sql("ba", "bb")} <= {max_hamming}
"""


# ---------------------------------------------------------------------------
# embedding cosine near-dup
# ---------------------------------------------------------------------------

def embedding_near_dup_pairs(df: DataFrame, vec_col: str, id_col: str,
                             block_col: str, threshold: float) -> DataFrame:
    """Pairs (id_a < id_b) in the same *block_col* value whose cosine,
    rounded to 6 digits, is >= threshold -- the rounded value is what the
    q19 gate's SQL oracle filters on.  The block is the equi-join key, so
    the comparison costs the sum of squared block sizes, not the corpus
    squared."""
    from karta_spark.operators.similarity import cosine_expr
    a = df.select(F.col(block_col), F.col(id_col).alias("id_a"), F.col(vec_col).alias("v_a"))
    b = df.select(F.col(block_col), F.col(id_col).alias("id_b"), F.col(vec_col).alias("v_b"))
    return (
        a.join(b, [block_col]).where(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", F.round(cosine_expr("v_a", "v_b"), 6))
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


# ---------------------------------------------------------------------------
# duplicate clusters: connected components over near-dup pairs
# ---------------------------------------------------------------------------

def connected_components(pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b",
                         max_iter: int = 50,
                         checkpoint_dir: str | None = None) -> DataFrame:
    """(id, component) — connected components of the near-dup pair graph,
    component labeled by its minimum member id.

    The step every dedup pipeline needs after pair generation: near-dup
    PAIRS (a~b, b~c) must collapse to CLUSTERS {a,b,c} before choosing
    canonical documents, or transitive duplicates survive.

    Algorithm: min-label propagation with pointer jumping — each round
    every node adopts the minimum label in its neighborhood, then labels
    are path-compressed by one extra join (comp := comp's comp), giving
    O(log diameter) rounds even on path graphs.  Rounds are pure
    groupBy/join (shuffle on node id, map-side combinable min agg).  Each
    round is localCheckpoint-ed: iterative plans MUST truncate lineage or
    the logical tree grows geometrically and the driver OOMs planning
    round ~30 (persist alone does not cut the plan).

    ``checkpoint_dir``: by default rounds use ``localCheckpoint`` —
    fastest, but blocks live on executors, so on a REAL cluster an
    executor loss mid-iteration kills the job (lineage is truncated and
    the blocks are gone).  Pass a reliable location (HDFS/S3/shared-fs
    path) to switch every round to ``df.checkpoint()``: blocks persist
    to storage and survive executor loss — the cluster-scale mode.
    Setting it calls ``sc.setCheckpointDir`` (context-global); enable
    ``spark.cleaner.referenceTracking.cleanCheckpoints`` to reap
    per-round files, or clean the directory after the job."""
    if checkpoint_dir is not None:
        sc = pairs.sparkSession.sparkContext
        sc.setCheckpointDir(checkpoint_dir)

        def _ckpt(df):
            return df.checkpoint(eager=True)
    else:
        def _ckpt(df):
            return df.localCheckpoint(eager=True)

    edges = _ckpt(
        pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
        .unionByName(pairs.select(F.col(id_b).alias("a"), F.col(id_a).alias("b")))
        .distinct())
    labels = _ckpt(
        edges.select(F.col("a").alias("id"))
        .distinct().withColumn("comp", F.col("id")))
    for _ in range(max_iter):
        # neighborhood min: for each node, min(own, neighbors' labels)
        nbr = (edges.join(labels.withColumnRenamed("id", "b"), "b")
               .groupBy("a").agg(F.min("comp").alias("nbr_comp"))
               .withColumnRenamed("a", "id"))
        stepped = (labels.join(nbr, "id", "left")
                   .select("id", F.least("comp", F.coalesce("nbr_comp", "comp"))
                           .alias("comp")))
        # pointer jump: comp := label(comp) — halves remaining path length
        lookup = stepped.select(F.col("id").alias("comp"),
                                F.col("comp").alias("comp2"))
        new_labels = _ckpt(
            stepped.join(lookup, "comp", "left")
            .select("id", F.coalesce("comp2", "comp").alias("comp")))
        changed = (new_labels.alias("n")
                   .join(labels.alias("o"), "id")
                   .where(F.col("n.comp") != F.col("o.comp")).count())
        labels = new_labels
        if changed == 0:
            break
    return labels


def duplicate_clusters(df: DataFrame, pairs: DataFrame, id_col: str,
                       id_a: str = "id_a", id_b: str = "id_b",
                       checkpoint_dir: str | None = None) -> DataFrame:
    """(id, canonical_id) for EVERY row of df: members of a near-dup
    component map to its min id; singletons map to themselves.
    ``checkpoint_dir`` passes through to :func:`connected_components`
    (reliable checkpoints for cluster runs)."""
    comp = connected_components(pairs, id_a, id_b,
                                checkpoint_dir=checkpoint_dir)
    return (df.select(F.col(id_col).alias("id"))
            .join(comp, "id", "left")
            .select("id", F.coalesce("comp", "id").alias("canonical_id")))


def cluster_representatives(df: DataFrame, pairs: DataFrame, id_col: str,
                            score, id_a: str = "id_a",
                            id_b: str = "id_b") -> DataFrame:
    """(canonical_id, rep_id, n_members): per near-dup cluster, the member
    with the highest *score* (ties -> lowest id) — the corpus-shrinking
    step after duplicate_clusters: keep the one best copy per cluster,
    drop the rest.

    *score* is any Column over df's columns (char count, a quality
    heuristic, a recency timestamp).  One hash aggregate on canonical_id:
    min_by over the (-score, id) struct gives argmax-score /
    lowest-id-tie-break with map-side partial aggregation — no window, no
    per-cluster shuffle beyond the agg."""
    labels = duplicate_clusters(df, pairs, id_col)
    scored = (df.select(F.col(id_col).alias("id"), score.alias("_s"))
              .join(labels, "id"))
    key = F.struct((-F.col("_s")).alias("neg"), F.col("id").alias("tid"))
    return (scored.groupBy("canonical_id")
            .agg(F.min_by("id", key).alias("rep_id"),
                 F.count("*").cast("long").alias("n_members")))


def semantic_dedup(vectors: DataFrame, vec_col: str, id_col: str,
                   threshold: float, codebook=None, dim: int = 64,
                   n_clusters: int = 8, seed: int = 19,
                   max_cluster: int | None = 65_536) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster embeddings, then drop
    near-duplicates WITHIN each cluster — clustering makes the
    quadratic comparison local, which is the whole trick: the
    self-join keys on cluster id, so its cost is sum of cluster
    sizes squared, not corpus squared.

    SCALE CONTRACT: the locality argument only holds when clusters stay
    small relative to the corpus — the paper operates at k ~ 10^4-10^5
    clusters.  Size ``n_clusters`` (or pass a ``codebook`` from
    similarity.train_centroids for data-adaptive centroids) so the
    expected cluster is at most ~10^4 vectors; the tiny default k=8
    is gate-scale only.  As a hard backstop, clusters larger than
    ``max_cluster`` are EXCLUDED from the pairwise comparison entirely
    (their members return kept=True) via a broadcast anti-join on the
    tiny oversized-cluster id set — the same degenerate-bucket policy as
    minhash_lsh_pairs' ``max_bucket``: one mega-cluster must be split with a
    finer codebook, not brute-forced at |cluster|^2.  None disables.

    Assignment uses the exact-integer static-codebook argmin
    (similarity.ivf_topk_static's machinery); the keep rule is
    deterministic: a vector drops iff some LOWER-id vector in its
    cluster has cosine >= threshold ("keep first").  Returns
    (id, cluster, kept)."""
    from karta_spark.operators.similarity import (_static_dists,
                                                  cosine_expr,
                                                  static_codebook)
    if codebook is None:
        codebook = static_codebook(n_clusters, dim, seed)
    v = vectors.select(F.col(id_col).alias("id"),
                       F.col(vec_col).alias("_v"))
    v = v.withColumn("_d", _static_dists("_v", codebook)) \
         .withColumn("cluster",
                     (F.array_position("_d", F.array_min("_d")) - 1)
                     .cast("int")).drop("_d")
    vj = v
    if max_cluster is not None:
        oversized = (v.groupBy("cluster").agg(F.count("*").alias("_n"))
                     .where(F.col("_n") > max_cluster).select("cluster"))
        vj = v.join(F.broadcast(oversized), "cluster", "left_anti")
    a = vj.select(F.col("id").alias("ida"), F.col("_v").alias("va"),
                  "cluster")
    b = vj.select(F.col("id").alias("idb"), F.col("_v").alias("vb"),
                  "cluster")
    dup = (a.join(b, "cluster")
           .where(F.col("ida") < F.col("idb"))
           .where(cosine_expr("va", "vb") >= threshold)
           .select(F.col("idb").alias("id")).distinct())
    return (v.join(dup.withColumn("_dup", F.lit(True)), "id", "left")
            .select("id", "cluster",
                    F.coalesce(~F.col("_dup"), F.lit(True))
                    .alias("kept")))
