"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``      — exact brute-force top-k per query: cosine computed
  with Catalyst higher-order functions (zip_with + aggregate — JVM-side,
  no Python), window top-k.  The correctness baseline.
- ``lsh_topk``         — random-hyperplane signatures (sign sketch) for
  bucketed ANN: candidates only within matching buckets; the 100 TB path.
- ``ivf_topk``         — inverted-file ANN: coarse quantize to the nearest
  of C centroids (broadcast), probe the query's nprobe nearest lists.

Scale notes: brute force is O(Q*N) — fine when one side broadcasts; both
LSH and IVF turn the cross join into an equi-join on bucket keys, which is
the only shape that survives 10^12 rows.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegerType


def dot_expr(a, b):
    """Σ a_i * b_i via zip_with + aggregate (Catalyst HOFs, double math)."""
    prod = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prod, F.lit(0.0), lambda acc, v: acc + v)


def norm_expr(a):
    sq = F.transform(a, lambda x: x.cast("double") * x.cast("double"))
    return F.sqrt(F.aggregate(sq, F.lit(0.0), lambda acc, v: acc + v))


def cosine_expr(a, b):
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


def cosine_topk(
    vectors: DataFrame, queries: DataFrame, k: int,
    vec_col: str = "embedding", vid: str = "vec_id",
    q_vec: str = "q_embedding", qid: str = "query_id",
    broadcast_queries: bool = True,
) -> DataFrame:
    """Exact cosine top-k per query (ties broken by lowest vec id)."""
    from karta_spark.plans.layout import ensure_min_parallelism

    # the crossJoin output inherits the vector side's partitioning; an
    # unsplittable vector file would run every HOF cosine fold in one
    # task (no-op when already parallel)
    vectors = ensure_min_parallelism(vectors)
    # norms hoisted ABOVE the cross join: cosine_expr inline would re-fold
    # norm(vector) once per (vector, query) PAIR — 3 HOF folds per scored
    # row; precomputed, each vector/query norm folds once and the pair row
    # is one dot fold + multiply/divide.  Bit-identical doubles (same ops,
    # same order — division by the same product).  Measured (interleaved
    # 4-run, q18 shape): sf10 1.37 -> 1.10 s, sf1.0 0.43 -> 0.41 s.
    vectors = vectors.withColumn("_vnorm", norm_expr(F.col(vec_col)))
    queries = queries.withColumn("_qnorm", norm_expr(F.col(q_vec)))
    q = F.broadcast(queries) if broadcast_queries else queries
    joined = vectors.crossJoin(q).withColumn(
        "cosine",
        dot_expr(F.col(vec_col), F.col(q_vec)) / (F.col("_vnorm") * F.col("_qnorm")))
    w = Window.partitionBy(qid).orderBy(F.col("cosine").desc(), F.col(vid).asc())
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(qid, vid, "cosine", "rank")
    )


# ---------------------------------------------------------------------------
# hyperplane LSH (engine-agnostic arithmetic)
# ---------------------------------------------------------------------------
#
# Gaussian hyperplanes need float dot products whose sign near zero can
# differ across engines (summation order).  These are seeded Rademacher
# (+/-1) hyperplanes over floor-quantized components s_i =
# floor(v_i * 2^20): every intermediate is an integer far below 2^53, so
# double arithmetic on them is EXACT and order-independent — identical
# bucket assignments in Spark and DuckDB, which puts the LSH top-k gate
# query under the exact oracle.  Multiplying by 2^20 is itself exact
# (power of two), as is float32 -> double widening.

_Q_SCALE = 1 << 20


def _rademacher_planes(dim: int, nbits: int, seed: int = 7) -> list[list[int]]:
    import random as _random
    rng = _random.Random(seed)
    return [[rng.randrange(2) * 2 - 1 for _ in range(dim)] for _ in range(nbits)]


def portable_bucket_expr(vec_col, dim: int, nbits: int, seed: int = 7):
    """'0'/'1' bucket string from sign(Σ r_i * floor(v_i * 2^20))."""
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    planes = _rademacher_planes(dim, nbits, seed)
    s = F.transform(v, lambda x: F.floor(x.cast("double") * _Q_SCALE).cast("double"))
    bits = []
    for r in planes:
        lit_r = F.array(*[F.lit(float(c)) for c in r])
        dot = F.aggregate(F.zip_with(s, lit_r, lambda x, y: x * y),
                          F.lit(0.0), lambda acc, x: acc + x)
        bits.append(F.when(dot > 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def lsh_topk(
    vectors: DataFrame, queries: DataFrame, k: int, dim: int,
    vec_col: str = "embedding", vid: str = "vec_id",
    q_vec: str = "q_embedding", qid: str = "query_id",
    nbits: int = 8, seed: int = 7,
) -> DataFrame:
    """Approximate top-k: candidates share the query's hyperplane-LSH
    bucket (``portable_bucket_expr``).  Recall is tunable via nbits (fewer
    bits = bigger buckets = higher recall).  Cosine + ranking follow the
    q18 discipline (double HOF dot product, ties by vec id)."""
    v = vectors.withColumn("_bk", portable_bucket_expr(vec_col, dim, nbits, seed))
    q = queries.withColumn("_bk", portable_bucket_expr(q_vec, dim, nbits, seed))
    joined = v.join(q, "_bk").withColumn("cosine", cosine_expr(vec_col, q_vec))
    w = Window.partitionBy(qid).orderBy(F.col("cosine").desc(), F.col(vid).asc())
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(qid, vid, "cosine", "rank")
    )


def lsh_topk_portable_sql(
    k: int, dim: int, nbits: int = 8, seed: int = 7,
    table: str = "embeddings", vec_col: str = "embedding", vid: str = "vec_id",
    query_filter: str = "vec_id < 5", vector_filter: str = "vec_id >= 5",
) -> str:
    """DuckDB twin of lsh_topk: same planes, same quantization,
    bit-identical buckets; cosine/rank mirror the q18 oracle form."""
    planes = _rademacher_planes(dim, nbits, seed)

    def bucket_sql(col: str) -> str:
        parts = []
        for r in planes:
            lit = "[" + ", ".join(f"{float(c):.1f}" for c in r) + "]::DOUBLE[]"
            parts.append(
                "(CASE WHEN list_dot_product("
                f"list_transform(CAST({col} AS DOUBLE[]), x -> floor(x * {_Q_SCALE})), {lit})"
                " > 0 THEN '1' ELSE '0' END)")
        return "||".join(parts)

    return f"""
WITH q AS (
  SELECT {vid} AS query_id, CAST({vec_col} AS DOUBLE[]) AS qv,
         {bucket_sql(vec_col)} AS bk
  FROM {table} WHERE {query_filter}
),
v AS (
  SELECT {vid}, CAST({vec_col} AS DOUBLE[]) AS ev,
         {bucket_sql(vec_col)} AS bk
  FROM {table} WHERE {vector_filter}
),
joined AS (
  SELECT query_id, {vid},
         list_dot_product(ev, qv)
           / (sqrt(list_dot_product(ev, ev)) * sqrt(list_dot_product(qv, qv))) AS cosine
  FROM v JOIN q USING (bk)
),
ranked AS (
  SELECT query_id, {vid}, cosine,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, {vid} ASC) AS BIGINT) AS rank
  FROM joined
)
SELECT query_id, {vid}, round(cosine, 6) AS cosine, rank FROM ranked WHERE rank <= {k}
"""


# ---------------------------------------------------------------------------
# IVF with a static codebook (engine-agnostic assignment)
# ---------------------------------------------------------------------------
#
# Data-trained centroids (train_centroids below) are floats — argmin over
# float distances can flip between engines at ties/ulps.  The static
# variant uses a seeded INTEGER codebook and floor-quantized components:
# every distance is an exact integer below 2^53, so list assignment and
# probe order are bit-identical in Spark and DuckDB — the oracle checks
# the approximate candidate structure itself.  Deployment-realistic too:
# production IVF trains the codebook offline and ships it as a constant.

def static_codebook(c: int, dim: int, seed: int = 19) -> list[list[int]]:
    import random as _random
    rng = _random.Random(seed)
    return [[rng.randrange(-_Q_SCALE, _Q_SCALE) for _ in range(dim)]
            for _ in range(c)]


def _quantized(vec_col):
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return F.transform(v, lambda x: F.floor(x.cast("double") * _Q_SCALE).cast("double"))


def _static_dists(vec_col, codebook) -> F.Column:
    """array of exact squared distances d_j = s.s - 2 s.c_j + c_j.c_j."""
    s = _quantized(vec_col)
    ss = F.aggregate(F.transform(s, lambda x: x * x), F.lit(0.0), lambda a, x: a + x)
    dists = []
    for cj in codebook:
        lit = F.array(*[F.lit(float(v)) for v in cj])
        dot = F.aggregate(F.zip_with(s, lit, lambda x, y: x * y),
                          F.lit(0.0), lambda a, x: a + x)
        cc = float(sum(v * v for v in cj))
        dists.append(ss - 2.0 * dot + cc)
    return F.array(*dists)


def ivf_topk_static(
    vectors: DataFrame, queries: DataFrame, k: int, dim: int,
    codebook: list[list[int]] | None = None, nprobe: int = 2,
    vec_col: str = "embedding", vid: str = "vec_id",
    q_vec: str = "q_embedding", qid: str = "query_id", seed: int = 19,
) -> DataFrame:
    """IVF ANN top-k against a static integer codebook: vectors hash to
    their nearest codeword's list (exact integer argmin, ties to the
    lowest index), queries probe their nprobe nearest lists, exact cosine
    ranks the candidates (q18 discipline)."""
    if codebook is None:
        codebook = static_codebook(8, dim, seed)
    if nprobe > 2:
        raise ValueError("static IVF supports nprobe <= 2 (primary + secondary)")

    def with_list(df, col, out):
        d = _static_dists(col, codebook)
        return df.withColumn("_d", d).withColumn(
            out, (F.array_position("_d", F.array_min("_d")) - 1).cast("int"))

    v = with_list(vectors, vec_col, "ivf_list").drop("_d")
    q = with_list(queries, q_vec, "_p1")
    if nprobe == 2:
        m1 = F.array_min("_d")
        rest = F.filter("_d", lambda x: x != m1)
        p2 = F.when(F.size(rest) > 0,
                    (F.array_position("_d", F.array_min(rest)) - 1).cast("int")
                    ).otherwise(F.col("_p1"))
        q = q.withColumn("_p2", p2)
        probes = F.array_distinct(F.array("_p1", "_p2"))
    else:
        probes = F.array("_p1")
    q = q.withColumn("ivf_list", F.explode(probes)).drop("_d", "_p1", "_p2")
    joined = v.join(q, "ivf_list").withColumn("cosine", cosine_expr(vec_col, q_vec))
    w = Window.partitionBy(qid).orderBy(F.col("cosine").desc(), F.col(vid).asc())
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(qid, vid, "cosine", "rank")
    )


def ivf_static_sql(
    k: int, dim: int, codebook: list[list[int]] | None = None, nprobe: int = 2,
    seed: int = 19, table: str = "embeddings", vec_col: str = "embedding",
    vid: str = "vec_id",
    query_filter: str = "vec_id < 5", vector_filter: str = "vec_id >= 5",
) -> str:
    """DuckDB twin of ivf_topk_static — same codebook literals, identical
    exact-integer assignment and probes."""
    if codebook is None:
        codebook = static_codebook(8, dim, seed)
    s = f"list_transform(CAST({vec_col} AS DOUBLE[]), x -> floor(x * {_Q_SCALE}))"
    ss = f"list_dot_product({s}, {s})"
    dts = []
    for cj in codebook:
        lit = "[" + ", ".join(f"{float(v):.1f}" for v in cj) + "]::DOUBLE[]"
        cc = float(sum(v * v for v in cj))
        dts.append(f"({ss} - 2.0*list_dot_product({s}, {lit}) + {cc})")
    darr = "[" + ", ".join(dts) + "]"
    p1 = f"(list_position(d, list_min(d)) - 1)"
    p2 = ("(CASE WHEN len(list_filter(d, x -> x != list_min(d))) > 0 "
          "THEN list_position(d, list_min(list_filter(d, x -> x != list_min(d)))) - 1 "
          f"ELSE {p1} END)")
    probes = f"list_distinct([{p1}, {p2}])" if nprobe == 2 else f"[{p1}]"
    return f"""
WITH v0 AS (
  SELECT {vid}, CAST({vec_col} AS DOUBLE[]) AS ev, {darr} AS d
  FROM {table} WHERE {vector_filter}
),
v AS (SELECT {vid}, ev, list_position(d, list_min(d)) - 1 AS ivf_list FROM v0),
q0 AS (
  SELECT {vid} AS query_id, CAST({vec_col} AS DOUBLE[]) AS qv, {darr} AS d
  FROM {table} WHERE {query_filter}
),
q AS (SELECT query_id, qv, unnest({probes}) AS ivf_list FROM q0),
joined AS (
  SELECT query_id, {vid},
         list_dot_product(ev, qv)
           / (sqrt(list_dot_product(ev, ev)) * sqrt(list_dot_product(qv, qv))) AS cosine
  FROM v JOIN q USING (ivf_list)
),
ranked AS (
  SELECT query_id, {vid}, cosine,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, {vid} ASC) AS BIGINT) AS rank
  FROM joined
)
SELECT query_id, {vid}, round(cosine, 6) AS cosine, rank FROM ranked WHERE rank <= {k}
"""


def pq_codebooks(m: int, sub_dim: int, k: int = 16,
                 seed: int = 23) -> list[list[list[int]]]:
    """m static integer codebooks of k codewords each (the offline-
    trained-and-shipped production shape, cf. static_codebook); every
    coordinate in [-_Q_SCALE, _Q_SCALE) so all ADC arithmetic stays
    BIGINT-exact in any engine."""
    import random as _random
    rng = _random.Random(seed)
    return [[[rng.randrange(-_Q_SCALE, _Q_SCALE) for _ in range(sub_dim)]
             for _ in range(k)] for _ in range(m)]


def _pq_sub_sql(vec_col: str, j: int, sub_dim: int) -> str:
    """Spark-SQL text of quantized integer slice j (1-based slice).
    Built as ONE expression string: constructing the ~256 HOF lambdas
    through the py4j Column API costs ~20 s of driver time; a single
    parse is milliseconds."""
    return (f"transform(slice(CAST({vec_col} AS array<double>), "
            f"{j * sub_dim + 1}, {sub_dim}), "
            f"x -> CAST(floor(x * {_Q_SCALE}) AS BIGINT))")


def _pq_d2_sql(sub_expr: str, cw) -> str:
    lit = "array(" + ", ".join(f"{int(c)}L" for c in cw) + ")"
    return (f"aggregate(zip_with({sub_expr}, {lit}, "
            f"(x, y) -> (x - y) * (x - y)), 0L, (a, x) -> a + x)")


def _pq_argmin_sql(sub_expr: str, codewords) -> str:
    darr = "array(" + ", ".join(_pq_d2_sql(sub_expr, cw)
                                for cw in codewords) + ")"
    return (f"CAST(array_position({darr}, array_min({darr})) - 1 "
            f"AS INT)")


def pq_encode(vectors: DataFrame, vec_col: str, dim: int, m: int,
              codebooks=None, seed: int = 23) -> DataFrame:
    """Product-quantization encode: the vector column becomes an
    array<int> of m codes — dim floats (256 bytes at dim=64) compress
    to m small ints (m bytes as uint8 at k<=256), THE storage format
    that makes billion-scale ANN fit in memory (IVF-PQ's inner
    representation).  Assignment is exact integer argmin on the
    quantized grid, so encoding is bit-reproducible in any engine."""
    if dim % m:
        raise ValueError("dim must be divisible by m")
    sub_dim = dim // m
    if codebooks is None:
        codebooks = pq_codebooks(m, sub_dim, seed=seed)
    # materialize each quantized subvector once, then argmin over k
    # codeword distances — all as ONE parsed SQL expression per column
    out = vectors
    for j in range(m):
        out = out.withColumn(f"_pqs{j}",
                             F.expr(_pq_sub_sql(vec_col, j, sub_dim)))
    codes = "array(" + ", ".join(
        _pq_argmin_sql(f"_pqs{j}", codebooks[j]) for j in range(m)) + ")"
    return out.withColumn("pq_codes", F.expr(codes)) \
              .drop(*[f"_pqs{j}" for j in range(m)])


def pq_adc_topk(vectors: DataFrame, queries: DataFrame, k: int,
                dim: int, m: int, codebooks=None,
                vec_col: str = "embedding", vid: str = "vec_id",
                q_vec: str = "q_embedding", qid: str = "query_id",
                seed: int = 23) -> DataFrame:
    """Asymmetric-distance-computation top-k: vectors are PQ codes,
    queries stay full precision; per query a lookup table of k
    integer distances per subspace is computed ONCE, then every
    candidate's distance is m table lookups (element_at) — pure
    Catalyst, no per-row Python.  This is the IVF-PQ inner loop; at
    corpus scale compose with ivf_topk_static so each query scans one
    probe list's codes instead of the full table.  Distances are
    BIGINT-exact (quantized query x integer codewords), so ranking is
    engine-portable with no float-order caveats."""
    if dim % m:
        raise ValueError("dim must be divisible by m")
    sub_dim = dim // m
    if codebooks is None:
        codebooks = pq_codebooks(m, sub_dim, seed=seed)
    enc = pq_encode(vectors, vec_col, dim, m, codebooks)
    q = queries
    for j in range(m):  # same single-parse trick as encode
        q = q.withColumn(f"_pqs{j}",
                         F.expr(_pq_sub_sql(q_vec, j, sub_dim)))
    luts = "array(" + ", ".join(
        "array(" + ", ".join(_pq_d2_sql(f"_pqs{j}", cw)
                             for cw in codebooks[j]) + ")"
        for j in range(m)) + ")"
    q = q.withColumn("_lut", F.expr(luts))
    joined = enc.crossJoin(q.select(qid, "_lut"))
    adc = " + ".join(
        f"element_at(element_at(_lut, {j + 1}), "
        f"element_at(pq_codes, {j + 1}) + 1)" for j in range(m))
    joined = joined.withColumn("adc_dist",
                               F.expr(f"CAST({adc} AS BIGINT)"))
    w = Window.partitionBy(qid).orderBy(F.col("adc_dist").asc(),
                                        F.col(vid).asc())
    return (joined.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select(qid, vid, "adc_dist", "rank"))


def pq_adc_sql(k: int, dim: int, m: int, codebooks=None, seed: int = 23,
               table: str = "embeddings", vec_col: str = "embedding",
               vid: str = "vec_id", query_filter: str = "vec_id < 5",
               vector_filter: str = "vec_id >= 5") -> str:
    """DuckDB twin of pq_encode + pq_adc_topk: identical integer
    quantization, codeword literals, argmin assignment, and ADC sum."""
    sub_dim = dim // m
    if codebooks is None:
        codebooks = pq_codebooks(m, sub_dim, seed=seed)

    def sub(col, j):
        return (f"list_transform(list_slice(CAST({col} AS DOUBLE[]), "
                f"{j * sub_dim + 1}, {(j + 1) * sub_dim}), "
                f"x -> CAST(floor(x * {_Q_SCALE}) AS BIGINT))")

    def d2(sub_expr, cw):
        lit = "[" + ", ".join(str(int(c)) for c in cw) + "]::BIGINT[]"
        return (f"list_sum(list_transform(list_zip({sub_expr}, {lit}), "
                f"p -> (p[1] - p[2]) * (p[1] - p[2])))")

    code_exprs = []
    lut_exprs = []
    for j in range(m):
        sv = sub(vec_col, j)
        darr = "[" + ", ".join(d2(sv, cw) for cw in codebooks[j]) + "]"
        code_exprs.append(f"(list_position({darr}, list_min({darr})) - 1)")
        lut_exprs.append(darr)
    codes = "[" + ", ".join(code_exprs) + "]"
    luts = "[" + ", ".join(lut_exprs) + "]"
    adc = " + ".join(f"lut[{j + 1}][codes[{j + 1}] + 1]"
                     for j in range(m))
    return f"""
WITH v AS (
  SELECT {vid}, {codes} AS codes FROM {table} WHERE {vector_filter}
), q AS (
  SELECT {vid} AS query_id, {luts} AS lut
  FROM {table} WHERE {query_filter}
), joined AS (
  SELECT query_id, {vid}, CAST({adc} AS BIGINT) AS adc_dist
  FROM v CROSS JOIN q
), ranked AS (
  SELECT query_id, {vid}, adc_dist,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY adc_dist ASC, {vid} ASC) AS BIGINT) AS rank
  FROM joined
)
SELECT query_id, {vid}, adc_dist, rank FROM ranked WHERE rank <= {k}
"""


def train_centroids(vectors: DataFrame, vec_col: str, c: int, iters: int = 3,
                    seed: int = 11) -> np.ndarray:
    """Tiny driver-side k-means on a sample (centroids broadcast afterwards).

    The sample is CONTENT-deterministic, not layout-deterministic:
    rows are selected by a hash of the vector itself (filter on
    pmod(xxhash64(vec, seed)) then order by the full 64-bit hash and
    take n_target), so the same corpus yields bit-identical centroids
    under any repartitioning, coalescing, or cluster size — df.sample
    is seeded per *partition layout* and silently retrains different
    codebooks when the upstream layout shifts (replica instability).
    Hash-equal rows are identical vectors, so ordering ties cannot
    reorder distinct content.  Cost: the same single pass a sample
    takes, plus a sort of only the ~3x n_target filtered rows."""
    n_target = max(c * 50, 1000)
    total = vectors.count()
    frac = min(1.0, 3.0 * n_target / max(total, 1))
    # floor at 1: above ~3e9 rows frac quantizes below 1/1e6 and an
    # int() floor would select ZERO rows (empty-sample crash at exactly
    # the corpus sizes this module targets); cut=1 still caps the
    # filtered set at ~total/1e6 rows ahead of the sort+limit
    cut = max(1, int(frac * 1_000_000))
    cand = (vectors.select(F.col(vec_col).alias("_v"))
            .withColumn("_h", F.xxhash64(F.col("_v"), F.lit(int(seed))))
            .where((F.pmod(F.col("_h"), F.lit(1_000_000)) < cut)
                   | F.lit(cut >= 1_000_000))
            .orderBy("_h")
            .limit(n_target))
    sample = np.array([
        np.asarray(r["_v"], dtype=np.float64) for r in cand.collect()
    ])
    rng = np.random.default_rng(seed)
    cent = sample[rng.choice(len(sample), size=min(c, len(sample)), replace=False)]
    for _ in range(iters):
        d = ((sample[:, None, :] - cent[None, :, :]) ** 2).sum(-1)
        assign = d.argmin(1)
        for j in range(len(cent)):
            m = assign == j
            if m.any():
                cent[j] = sample[m].mean(0)
    return cent


def ivf_assign(df: DataFrame, vec_col: str, centroids: np.ndarray,
               out: str = "ivf_list") -> DataFrame:
    C = centroids

    @F.pandas_udf(IntegerType())
    def assign(vecs: pd.Series) -> pd.Series:
        M = np.array([np.asarray(v, dtype=np.float64) for v in vecs])
        d = ((M[:, None, :] - C[None, :, :]) ** 2).sum(-1)
        return pd.Series(d.argmin(1).astype(np.int32))

    return df.withColumn(out, assign(F.col(vec_col)))


def ivf_probe_lists(queries: DataFrame, q_vec: str, centroids: np.ndarray,
                    nprobe: int = 2, out: str = "ivf_list") -> DataFrame:
    C = centroids

    @F.pandas_udf(ArrayType(IntegerType()))
    def probes(vecs: pd.Series) -> pd.Series:
        M = np.array([np.asarray(v, dtype=np.float64) for v in vecs])
        d = ((M[:, None, :] - C[None, :, :]) ** 2).sum(-1)
        idx = np.argsort(d, axis=1)[:, :nprobe]
        return pd.Series([row.astype(np.int32).tolist() for row in idx])

    return queries.withColumn(out, F.explode(probes(F.col(q_vec))))


def ivf_list_stats(assigned: DataFrame, list_col: str = "ivf_list",
                   max_list: int | None = None) -> DataFrame:
    """Audit hook for IVF list skew (the inverted-file analogue of
    dedup.oversized_bucket_stats): per list id, its member count and its
    share of the corpus, sorted largest first.  ``max_list`` filters to
    lists above the cap (empty result = no skew concern).

    Run this one groupBy before a large ivf_topk/ivf_pq scan: a probe of
    a list holding a large corpus fraction costs that fraction of a
    brute-force scan per query, which is the scale failure mode of a
    badly trained (or too-small) codebook — the fix is retraining with
    more centroids (train_centroids), not a bigger cluster."""
    n = F.count("*")
    total = assigned.count()
    out = (assigned.groupBy(list_col)
           .agg(n.cast("long").alias("members"))
           .withColumn("corpus_share",
                       F.col("members") / F.lit(max(total, 1)))
           .orderBy(F.col("members").desc()))
    if max_list is not None:
        out = out.where(F.col("members") > max_list)
    return out


def ivf_topk(
    vectors: DataFrame, queries: DataFrame, k: int, c: int = 16, nprobe: int = 2,
    vec_col: str = "embedding", vid: str = "vec_id",
    q_vec: str = "q_embedding", qid: str = "query_id",
) -> DataFrame:
    """IVF ANN top-k: equi-join on the coarse list id."""
    cent = train_centroids(vectors, vec_col, c)
    v = ivf_assign(vectors, vec_col, cent)
    q = ivf_probe_lists(queries, q_vec, cent, nprobe)
    joined = v.join(q, "ivf_list").withColumn("cosine", cosine_expr(vec_col, q_vec))
    w = Window.partitionBy(qid).orderBy(F.col("cosine").desc(), F.col(vid).asc())
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(qid, vid, "cosine", "rank")
        .dropDuplicates([qid, vid])
    )
