"""Similarity search over embedding columns (array<float>).

Two paths (BASELINE.json north star):

  brute-force top-k - query set x corpus with the query side BROADCAST,
      cosine via JVM higher-order functions, window top-k per query.
      Correctness baseline; cost = |queries| x |corpus| map work, no
      shuffle of the corpus.  Right answer at 100 TB only for small k and
      small query batches.

  LSH-bucketed ANN  - random-hyperplane signs partition the corpus into
      2^n_planes buckets; search compares only same-bucket pairs.  The
      plane matrix is a deterministic constant (seeded, embedded in both
      the Spark plan and the DuckDB oracle).  At 100 TB: bucket the corpus
      ONCE (write bucketed/partitioned parquet keyed by bucket id), then
      each query probes one bucket (+ optionally neighbors at Hamming
      distance 1 for recall) — partition pruning turns ANN into a
      point-lookup-shaped scan.  IVF (k-means cells) drops in the same
      frame: swap sign-bucket for nearest-centroid id.

Embedding dim is 64 (FIXTURES.md); planes are 8 -> 256 buckets.
"""

from __future__ import annotations

import hashlib
import struct
import zlib

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from oem_gateway_spark.functions import vectors as V

EMB_DIM = 64
N_PLANES = 8


def _plane_values(plane: int, dim: int = EMB_DIM) -> list[float]:
    """Deterministic pseudo-random hyperplane in [-1, 1]^dim.

    crc32-seeded integers -> uniform floats; pure stdlib so the identical
    constants are embedded in the Spark literal and the oracle SQL.
    """
    vals = []
    for i in range(dim):
        h = zlib.crc32(struct.pack(">II", plane, i)) & 0xFFFFFFFF
        vals.append(round(h / 0xFFFFFFFF * 2 - 1, 9))
    return vals


PLANES: list[list[float]] = [_plane_values(p) for p in range(N_PLANES)]


def plane_literal(plane: int) -> Column:
    return F.array(*[F.lit(v) for v in PLANES[plane]])


def plane_sql(plane: int) -> str:
    return "[" + ", ".join(repr(v) for v in PLANES[plane]) + "]"


def lsh_bucket(vec: Column) -> Column:
    """Sign-bit bucket id in [0, 2^N_PLANES) from the plane dot products.
    Exact-fold HOF form (bit-matches the oracle); see lsh_bucket_fast for
    the vectorized production path."""
    out = F.lit(0)
    for p in range(N_PLANES):
        d = V.dot(vec, plane_literal(p))
        out = out + F.when(d > 0, F.lit(1 << p)).otherwise(0)
    return out.cast("int")


def lsh_bucket_fast(vec: Column) -> Column:
    """Vectorized bucket id: one numpy matmul against the plane matrix per
    Arrow batch.  Sign decisions match the fold form unless |dot| < ~1e-12
    (never for random data)."""
    from pyspark.sql.functions import pandas_udf

    planes = np.array(PLANES, dtype="float64")  # (N_PLANES, dim)
    weights = (1 << np.arange(N_PLANES)).astype("int64")

    @pandas_udf("int")
    def _bucket(xs: pd.Series) -> pd.Series:
        xm = np.stack(xs.to_numpy()).astype("float64")  # (n, dim)
        signs = (xm @ planes.T) > 0  # (n, N_PLANES)
        return pd.Series((signs @ weights).astype("int32"))

    return _bucket(vec)


def lsh_bucket_sql(vec_expr: str) -> str:
    terms = []
    for p in range(N_PLANES):
        d = V.dot_sql_duckdb(vec_expr, plane_sql(p))
        terms.append(f"CASE WHEN ({d}) > 0 THEN {1 << p} ELSE 0 END")
    return "CAST(" + " + ".join(terms) + " AS INT)"


N_CENTROIDS = 8


def _centroid_values(c: int, dim: int = EMB_DIM) -> list[float]:
    """Deterministic pseudo-random IVF centroids (same construction as the
    LSH planes, different seed-space).  In production these come from a
    k-means fit; the assignment/pruning machinery is identical."""
    vals = []
    for i in range(dim):
        h = zlib.crc32(struct.pack(">III", 0xC3, c, i)) & 0xFFFFFFFF
        vals.append(round(h / 0xFFFFFFFF * 2 - 1, 9))
    return vals


CENTROIDS: list[list[float]] = [_centroid_values(c) for c in range(N_CENTROIDS)]


def centroid_sql(c: int) -> str:
    return "[" + ", ".join(repr(v) for v in CENTROIDS[c]) + "]"


def ivf_cell(vec: Column) -> Column:
    """IVF cell id = argmin squared distance to the centroids, computed
    as one numpy matmul per Arrow batch.  ||v-c||^2 = ||v||^2 - 2 v.c +
    ||c||^2; ||v||^2 is constant per row, so argmin over (||c||^2 - 2 v.c)."""
    from pyspark.sql.functions import pandas_udf

    cents = np.array(CENTROIDS, dtype="float64")  # (k, dim)
    c_sq = np.einsum("ij,ij->i", cents, cents)  # (k,)

    @pandas_udf("int")
    def _cell(xs: pd.Series) -> pd.Series:
        xm = np.stack(xs.to_numpy()).astype("float64")  # (n, dim)
        scores = c_sq[None, :] - 2.0 * (xm @ cents.T)  # (n, k)
        return pd.Series(np.argmin(scores, axis=1).astype("int32"))

    return _cell(vec)


def ivf_cells(vec: Column, nprobe: int) -> Column:
    """The ``nprobe`` nearest IVF cells per vector (array<int>, ordered by
    distance asc then cell id asc — numpy's stable argsort matches the
    oracle's ``ORDER BY score, cell``).  Probing >1 cell recovers the
    neighbors a hard cell boundary hides from single-probe IVF: recall
    rises with nprobe while cost stays |corpus| * nprobe / n_cells."""
    from pyspark.sql.functions import pandas_udf

    cents = np.array(CENTROIDS, dtype="float64")  # (k, dim)
    c_sq = np.einsum("ij,ij->i", cents, cents)  # (k,)

    @pandas_udf("array<int>")
    def _cells(xs: pd.Series) -> pd.Series:
        xm = np.stack(xs.to_numpy()).astype("float64")  # (n, dim)
        scores = c_sq[None, :] - 2.0 * (xm @ cents.T)  # (n, k)
        order = np.argsort(scores, axis=1, kind="stable")[:, :nprobe]
        return pd.Series(list(order.astype("int32")))

    return _cells(vec)


def ivf_scores_sql(vec_expr: str) -> str:
    """DuckDB list of the per-centroid scores ``||c||^2 - 2 v.c`` that
    ivf_cell/ivf_cells rank (sequential-fold dots), in centroid order."""
    scores = (
        f"({sum(v * v for v in CENTROIDS[c])!r} - 2.0 * "
        f"({V.dot_sql_duckdb(vec_expr, centroid_sql(c))}))"
        for c in range(N_CENTROIDS)
    )
    return f"[{', '.join(scores)}]"


def ivf_cell_sql(vec_expr: str) -> str:
    """DuckDB twin of ivf_cell: argmin over the centroid scores.
    list_position finds the FIRST minimum, so a tie keeps the lowest
    index, matching numpy argmin."""
    s = ivf_scores_sql(vec_expr)
    return f"CAST(list_position({s}, list_min({s})) - 1 AS INT)"


def ivf_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
) -> DataFrame:
    """IVF ANN top-k: compare only probed-cell pairs (nearest-centroid
    partitioning).  Same pruning frame as the LSH path with k-means cells;
    at 100 TB the corpus is written cell-partitioned and a query probes
    its ``nprobe`` nearest cells — each probe is a pruned partition scan,
    so cost scales linearly in nprobe while recall approaches exact.
    Corpus vectors live in exactly one cell, so multi-probe never
    duplicates a (query, neighbor) pair."""
    if nprobe == 1:
        q_cell = ivf_cell(F.col(vec_col)).alias("cell")
        q = queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"), q_cell
        )
    else:
        q = queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("q_vec"),
            F.explode(ivf_cells(F.col(vec_col), nprobe)).alias("cell"),
        )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        ivf_cell(F.col(vec_col)).alias("cell"),
    )
    scored = (
        c.join(F.broadcast(q), on="cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos_raw", V.cosine_pandas(F.col("q_vec"), F.col("c_vec")))
        .select("query_id", "neighbor_id", "cell", "cos_raw")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_raw"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "cell",
            F.round("cos_raw", 6).alias("cosine"),
            "rank",
        )
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k neighbors per query (self excluded).

    Query side broadcasts (small by contract); corpus never shuffles until
    the final tiny per-query top-k window.
    Returns (query_id, neighbor_id, cosine, rank) with deterministic
    (cosine desc, neighbor_id) ordering.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    # One Arrow stage computes cosine per pair; vectors are DROPPED before
    # the window shuffle so only (ids, score) rows move — at scale the
    # embedding payload never leaves the scoring stage.
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos_raw", V.cosine_pandas(F.col("q_vec"), F.col("c_vec")))
        .select("query_id", "neighbor_id", "cos_raw")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_raw"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cos_raw", 6).alias("cosine"),
            "rank",
        )
    )


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k: compare only same-LSH-bucket pairs.

    Returns (query_id, neighbor_id, bucket, cosine, rank).  Recall < 1 by
    design; the scale win is that each query touches |corpus| / 2^planes
    vectors (and with bucket-partitioned storage, only that partition).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        lsh_bucket_fast(F.col(vec_col)).alias("bucket"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        lsh_bucket_fast(F.col(vec_col)).alias("bucket"),
    )
    scored = (
        c.join(F.broadcast(q), on="bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos_raw", V.cosine_pandas(F.col("q_vec"), F.col("c_vec")))
        .select("query_id", "neighbor_id", "bucket", "cos_raw")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_raw"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "bucket",
            F.round("cos_raw", 6).alias("cosine"),
            "rank",
        )
    )


# ------------------------------------------------- JL sign random projection
#
# Data-INDEPENDENT dimensionality reduction (Achlioptas/JL): proj = (1/sqrt(D))
# * S @ v with S a fixed +-1 sign matrix.  No training pass, no fitted state to
# version -- the matrix is a pure function of (j, i) via md5 (NOT the
# crc32 plane idiom: see _jl_sign for why parity of a linear hash cannot
# seed a sign matrix), so every
# executor (and the DuckDB oracle) regenerates it identically; at 100 TB the
# projection is map-only Arrow-batched matmul, and downstream index builds
# (IVF, LSH, quantization) run on JL_K-dim vectors instead of D-dim.

JL_K = 32  # output dims; distortion std on cosine ~ 1/sqrt(JL_K)
JL_SCALE = 0.125  # 1/sqrt(EMB_DIM=64): exactly representable, exact scaling


def _jl_sign(j: int, i: int) -> float:
    """+-1.0 from an md5 bit over a 'jl'-tagged (j, i) key.  NOT crc32
    (the LSH-plane idiom): crc32 is GF(2)-linear, so its parity
    factorizes as u_j XOR w_i — a rank-1 sign matrix whose projections
    are all collinear (cos_proj = +-1, found live when the first cut of
    this witness measured mean gap ~1.0).  md5's bits don't factorize."""
    h = hashlib.md5(f"jl:{j}:{i}".encode()).digest()
    return 1.0 if h[0] % 2 == 0 else -1.0


JL_SIGNS: list[list[float]] = [
    [_jl_sign(j, i) for i in range(EMB_DIM)] for j in range(JL_K)
]


def jl_project_pandas(vec: Column) -> Column:
    """array<float>[D] -> array<double>[JL_K] via Arrow-batched numpy matmul
    (the 100 TB hot path: one BLAS call per batch, no per-row Python)."""
    from pyspark.sql.functions import pandas_udf

    signs = np.array(JL_SIGNS, dtype="float64")  # K x D

    @pandas_udf("array<double>")
    def _proj(xs: pd.Series) -> pd.Series:
        xm = np.stack(xs.to_numpy()).astype("float64")  # n x D
        pm = (xm @ signs.T) * JL_SCALE  # n x K
        return pd.Series(list(pm))

    return _proj(vec)


def jl_project_sql_duckdb(vec_expr: str) -> str:
    """DuckDB list literal of the same projection: K folds of the embedded
    sign rows (left-to-right like the Spark HOF twin; the numpy path above
    differs only past round(,6))."""
    dims = []
    for j in range(JL_K):
        lit = "[" + ", ".join(str(v) for v in JL_SIGNS[j]) + "]"
        dims.append(f"{JL_SCALE} * ({V.dot_sql_duckdb(vec_expr, lit)})")
    return "[" + ", ".join(dims) + "]"


def jl_distortion_pairs(
    emb: DataFrame, stride: int = 50, id_cap: int = 5000
) -> DataFrame:
    """The projection WITNESS: for every pair in a deterministic sample
    (vec_id % stride = 0 AND vec_id < id_cap), exact 64-dim cosine next
    to the JL_K-dim projected cosine and their absolute gap -- the
    measurable form of the JL guarantee (gap concentrates around 0 as
    JL_K grows).

    Shape: the id cap FIXES the sample size once the corpus passes
    id_cap rows (at most id_cap/stride vectors -> a constant pair
    count), so the audit's self-join cost is FLAT in corpus size while
    the thing being audited -- the projection itself -- is map-only
    linear work; without the cap a %-stride sample grows with the
    corpus and the pair join would look quadratic in a scale probe.
    Both filters are pushed to the scan; the sampled side is
    broadcast."""
    s = emb.filter(
        (F.col("vec_id") % stride == 0) & (F.col("vec_id") < id_cap)
    ).select(
        "vec_id",
        "embedding",
        jl_project_pandas(F.col("embedding")).alias("proj"),
    )
    a = s.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("e_a"),
        F.col("proj").alias("p_a"),
    )
    b = s.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("e_b"),
        F.col("proj").alias("p_b"),
    )
    pairs = a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
    # One Arrow stage per cosine (V.cosine_pandas: dot + both norms per
    # batch, zero-denominator guarded) — the house pair-cosine helper,
    # not a hand-rolled dot/norm chain (r13 self-review).
    scored = pairs.select(
        "id_a",
        "id_b",
        F.round(V.cosine_pandas(F.col("e_a"), F.col("e_b")), 6).alias("cos_exact"),
        F.round(V.cosine_pandas(F.col("p_a"), F.col("p_b")), 6).alias("cos_proj"),
    )
    return scored.withColumn(
        "abs_gap", F.round(F.abs(F.col("cos_exact") - F.col("cos_proj")), 6)
    )
