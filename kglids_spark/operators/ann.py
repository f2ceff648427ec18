"""Similarity search over embedding columns (SURVEY.md §2.3 J7).

The reference delegates kNN to pgvector HNSW indexes
(storage_utils/embedding_store_utils.py:25-40, ORDER BY <=> LIMIT n at
kglids_server.py:124-127). Spark-native equivalents:

- brute_force_knn: exact cosine top-k for one query vector — a scan +
  TakeOrderedAndProject, no shuffle of vectors. The correctness
  baseline.
- knn_join: top-k per query row — blocked cross join + window
  row_number ≤ k. Exact but O(|Q|·|C|); for small query sets.
- LSH path (the 100 TB route): deterministic random-hyperplane sign
  buckets. Hyperplanes are md5-derived from (seed, plane, dim) on the
  driver and inlined as plan literals, so bucketing is reproducible
  with no mutable driver state and every dot product is an unrolled
  whole-stage-codegen scalar chain (no Python, no interpreted
  higher-order functions). Candidates within the same bucket
  (optionally multi-probe over Hamming-1 neighbors) are re-ranked
  exactly.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kglids_spark.functions.scalar import cosine_similarity, dot_literal


def brute_force_knn(
    corpus: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        corpus.select(
            F.col(id_col),
            cosine_similarity(F.col(vec_col), q).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )


def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    q_id: str = "q_id",
    q_vec: str = "q_vec",
    c_id: str = "vec_id",
    c_vec: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Exact top-k neighbors per query row (window-ranked cross join)."""
    qq = queries.select(F.col(q_id).alias("q_id"), F.col(q_vec).alias("q_vec"))
    cc = corpus.select(F.col(c_id).alias("c_id"), F.col(c_vec).alias("c_vec"))
    joined = qq.crossJoin(cc)
    if exclude_self:
        joined = joined.filter(F.col("q_id") != F.col("c_id"))
    scored = joined.select(
        "q_id", "c_id", cosine_similarity(F.col("q_vec"), F.col("c_vec")).alias("cosine")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.col("c_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


# ---------------------------------------------------------------------------
# LSH: deterministic random-hyperplane sign buckets


def gaussian_planes(n_planes: int, dim: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-gaussian hyperplanes: component (p, d) is an
    Irwin-Hall sum of 4 md5-derived uniforms - 2 (CLT approx), computed
    ONCE driver-side and inlined as plan literals (a few KB shipped with
    the serialized plan — no driver state, no broadcast needed).

    Round-1 computed these per ROW with hash expressions inside a
    zip_with lambda: n_planes × dim × 4 interpreted hash calls per row
    (~3k at 12×64) — measured 20+ s for a 50k-vector bucket pass that
    the literal form does in well under a second."""
    import hashlib

    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            total = -2.0
            for r in range(4):
                h = int.from_bytes(
                    hashlib.md5(f"lshg:{seed}:{p}:{d}:{r}".encode()).digest()[:4], "big"
                )
                total += (h + 0.5) / 2.0**32
            row.append(total)
        planes.append(row)
    return planes


def lsh_bucket_expr(
    vec_col: str = "embedding", n_planes: int = 8, seed: int = 42, dim: int = 64
) -> F.Column:
    """Bucket id in [0, 2^n_planes): sign bit per hyperplane, planes
    inlined as literals (gaussian_planes), dot products unrolled into
    whole-stage-codegen scalar chains (dot_literal)."""
    return lsh_bucket_planes_expr(vec_col, gaussian_planes(n_planes, dim, seed))


def lsh_bucket_pandas_udf(planes: list[list[float]]):
    """Arrow-batched numpy bucket assignment: one ``V @ P.T`` matmul +
    sign-bit pack per batch. The expression variant
    (lsh_bucket_planes_expr) builds an O(n_planes × dim) literal tree
    PER COLUMN REFERENCE — at 8×64 that is ~1000 plan nodes, and with
    two bucketed sides plus re-rank the per-run Catalyst
    analysis/codegen alone measured ~8 s on a 2000-row corpus. The UDF
    keeps the plan a single node and does the linear algebra where it
    belongs. Summation order differs from the sequential fold at
    ~1e-15 relative, so buckets can differ from the expr path only for
    vectors lying numerically ON a hyperplane (recall-, not
    correctness-relevant; both join sides use the same path).

    Null or wrong-dimension vectors get a NULL bucket (mirroring the
    expr path, where a null array nulls out every dot product) instead
    of crashing np.stack; a null bucket never equi-joins, so such rows
    silently drop from the candidate set."""
    P = np.asarray(planes, dtype=np.float64).T  # dim × n_planes
    dim = P.shape[0]
    shifts = np.arange(len(planes), dtype=np.int64)

    @F.pandas_udf("long")
    def _bucket(vecs: pd.Series) -> pd.Series:
        raw = vecs.to_numpy()
        ok = np.array(
            [v is not None and len(v) == dim for v in raw], dtype=bool
        )
        out = pd.array([pd.NA] * len(raw), dtype="Int64")
        if ok.any():
            m = np.stack(raw[ok]).astype(np.float64)  # valid × dim
            bits = (m @ P > 0).astype(np.int64)
            out[ok] = (bits << shifts).sum(axis=1)
        return pd.Series(out)

    return _bucket


def lsh_knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    seed: int = 42,
    dim: int = 64,
    q_id: str = "q_id",
    q_vec: str = "q_vec",
    c_id: str = "vec_id",
    c_vec: str = "embedding",
    multiprobe: bool = True,
    method: str = "auto",
) -> DataFrame:
    """Approximate top-k per query: join on LSH bucket (plus Hamming-1
    probe buckets for recall), exact cosine re-rank inside buckets.
    Shuffle is bucket-local — the scale path replacing knn_join's
    cross join.

    ``method``: ``expr`` = literal expression trees (bit-reproducible
    sequential dots, oracle-comparable); ``pandas`` = Arrow numpy
    matmul (tiny plan, BLAS rows — the production path);
    ``auto`` = pandas once n_planes × dim ≥ 256 (mirrors ivf_assign)."""
    if method == "auto":
        method = "expr" if n_planes * dim < 256 else "pandas"
    if method == "pandas":
        bucket_of = lsh_bucket_pandas_udf(gaussian_planes(n_planes, dim, seed))
    else:
        def bucket_of(col):
            return lsh_bucket_planes_expr(col, gaussian_planes(n_planes, dim, seed))
    cc = corpus.select(
        F.col(c_id).alias("c_id"),
        F.col(c_vec).alias("c_vec"),
        bucket_of(F.col(c_vec)).alias("bucket"),
    )
    qb = queries.select(
        F.col(q_id).alias("q_id"),
        F.col(q_vec).alias("q_vec"),
        bucket_of(F.col(q_vec)).alias("b0"),
    )
    if multiprobe:
        probes = F.array(
            F.col("b0"), *[F.col("b0").bitwiseXOR(F.lit(1 << p)) for p in range(n_planes)]
        )
    else:
        probes = F.array(F.col("b0"))
    qq = qb.select("q_id", "q_vec", F.explode(probes).alias("bucket"))
    scored = (
        qq.join(cc, "bucket")
        .filter(F.col("q_id") != F.col("c_id"))
        .select(
            "q_id",
            "c_id",
            cosine_similarity(F.col("q_vec"), F.col("c_vec")).alias("cosine"),
        )
        .distinct()
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.col("c_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def lsh_bucket_planes_expr(vec_col, planes: list[list[float]]) -> F.Column:
    """Bucket id from explicit hyperplane literals: sign bit per plane,
    each dot product an unrolled codegen-able scalar chain (identical
    summation order to the old aggregate fold, so bucket values and the
    DuckDB oracle are unchanged)."""
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    bucket = F.lit(0).cast("long")
    for p, plane in enumerate(planes):
        d = dot_literal(v, plane)
        bucket = bucket + F.when(d > 0, F.lit(1 << p).cast("long")).otherwise(F.lit(0))
    return bucket


def lsh_knn_join_oracle_sql(
    k: int = 10,
    n_planes: int = 8,
    seed: int = 42,
    dim: int = 64,
    query_pred: str = "vec_id < 5",
    table: str = "embeddings",
) -> str:
    """DuckDB SQL equivalent of lsh_knn_join(method="expr"): the same
    gaussian_planes literals inlined, the same multiprobe, and the
    re-rank on the unrounded cosine; only the output cosine is rounded
    to 5 dp."""
    planes = gaussian_planes(n_planes, dim, seed)

    def bucket_sql(col: str) -> str:
        terms = []
        for p, plane in enumerate(planes):
            lits = ", ".join(str(x) for x in plane)
            terms.append(
                f"(CASE WHEN list_dot_product({col}::DOUBLE[], [{lits}]::DOUBLE[]) > 0"
                f" THEN {1 << p} ELSE 0 END)"
            )
        return " + ".join(terms)

    probe_selects = " UNION ALL ".join(
        ["SELECT q_id, q_vec, b0 AS bucket FROM qb"]
        + [f"SELECT q_id, q_vec, xor(b0, {1 << p}) FROM qb" for p in range(n_planes)]
    )
    return f"""
    WITH corpus AS (
      SELECT vec_id AS c_id, embedding AS c_vec, {bucket_sql('embedding')} AS bucket
      FROM {table}),
    qb AS (
      SELECT vec_id AS q_id, embedding AS q_vec, {bucket_sql('embedding')} AS b0
      FROM {table} WHERE {query_pred}),
    probes AS ({probe_selects}),
    scored AS (
      SELECT DISTINCT q.q_id, c.c_id,
             list_cosine_similarity(q.q_vec::DOUBLE[], c.c_vec::DOUBLE[]) AS cosine
      FROM probes q JOIN corpus c ON q.bucket = c.bucket AND q.q_id != c.c_id)
    SELECT q_id, c_id, round(cosine, 5) AS cosine, rank FROM (
      SELECT q_id, c_id, cosine,
             row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rank
      FROM scored)
    WHERE rank <= {k}
    """


def ivf_assign(
    corpus: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    method: str = "auto",
) -> DataFrame:
    """IVF coarse quantization: assign each vector to its nearest
    centroid (broadcast literal array of centroids — the k-means fit
    itself is out of band). Downstream kNN probes only the closest
    lists, the classic IVF pruning. Ties break to the lowest centroid
    index (negated-index struct max).

    Two implementations, switched by ``method``:

    - ``expr``: per-centroid unrolled literal dots + array_max over
      (score, -index) structs — pure Catalyst, bit-reproducible
      sequential summation (matches the DuckDB oracle), ties to the
      LOWEST index. The expression tree is O(centroids × dim) PER ROW,
      which exceeds whole-stage-codegen field limits and evaluates
      interpreted beyond a couple dozen centroids (a 64×64 assignment
      over 50k rows effectively hung) — so it is the small-codebook /
      oracle path only.
    - ``pandas``: Arrow-batched numpy ``V @ C.T`` + argmax — one BLAS
      matmul per batch, the right tool for dense linear algebra at any
      real codebook size (np.argmax also ties to the lowest index).
      Summation order differs from sequential at ~1e-15 relative, so
      assignments can differ from ``expr`` only on exact-tie scores.

    ``auto`` picks expr for ≤16 centroids, pandas beyond."""
    if method == "auto":
        method = "expr" if len(centroids) <= 16 else "pandas"
    if method == "expr":
        v = F.col(vec_col)
        scored = F.array(
            *[
                F.struct(dot_literal(v, cvec).alias("score"), F.lit(-ci).alias("nci"))
                for ci, cvec in enumerate(centroids)
            ]
        )
        best = F.array_max(scored)
        return corpus.withColumn("ivf_list", (-best["nci"]).cast("int"))

    ct = np.asarray(centroids, dtype=np.float64).T  # dim × k

    @F.pandas_udf("int")
    def assign(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy())  # batch × dim
        return pd.Series(np.argmax(m @ ct, axis=1).astype("int32"))

    return corpus.withColumn("ivf_list", assign(F.col(vec_col)))


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: list[list[float]],
    k: int = 10,
    q_id: str = "q_id",
    q_vec: str = "q_vec",
    c_id: str = "vec_id",
    c_vec: str = "embedding",
) -> DataFrame:
    """End-to-end IVF search: assign corpus AND queries to inverted
    lists, join only within the query's nearest list (single-probe),
    exact cosine re-rank inside it. The join is list-local — at scale
    the corpus is partitioned by ivf_list so a probe touches one
    partition group instead of the whole corpus. Cosine is rounded to
    5dp before ranking for cross-engine-stable order."""
    cc = ivf_assign(corpus, centroids, vec_col=c_vec).select(
        F.col(c_id).alias("c_id"), F.col(c_vec).alias("c_vec"), "ivf_list"
    )
    qq = ivf_assign(
        queries.select(F.col(q_id).alias("q_id"), F.col(q_vec).alias("q_vec")),
        centroids,
        vec_col="q_vec",
    )
    scored = (
        qq.join(cc, "ivf_list")
        .filter(F.col("q_id") != F.col("c_id"))
        .select(
            "q_id",
            "c_id",
            F.round(cosine_similarity(F.col("q_vec"), F.col("c_vec")), 5).alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.col("c_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def kmeans_assign(
    corpus: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    method: str = "auto",
    out_col: str = "km_list",
) -> DataFrame:
    """Nearest centroid by EUCLIDEAN distance (Lloyd's assignment
    step): argmin ‖v−c‖² = argmax (v·c − ‖c‖²/2), so the same two
    implementations as ivf_assign apply with a per-centroid constant
    folded in — expr (sequential sums, bit-comparable to a DuckDB
    ``list_dot_product`` oracle) for small codebooks, Arrow numpy
    matmul beyond. Ties break to the lowest centroid index.

    Null or wrong-dimension vectors get a NULL assignment in BOTH
    paths (mirroring lsh_bucket_pandas_udf): the expr path's struct
    comparison would otherwise treat the null score as smallest and
    silently assign such rows to centroid 0, and the pandas path's
    np.stack would crash on a ragged batch."""
    if method == "auto":
        method = "expr" if len(centroids) <= 16 else "pandas"
    halves = [0.5 * sum(float(x) * float(x) for x in c) for c in centroids]
    dim = len(centroids[0])
    if method == "expr":
        v = F.col(vec_col)
        scored = F.array(
            *[
                F.struct(
                    (dot_literal(v, cvec) - F.lit(halves[ci])).alias("score"),
                    F.lit(-ci).alias("nci"),
                )
                for ci, cvec in enumerate(centroids)
            ]
        )
        best = F.array_max(scored)
        valid = v.isNotNull() & (F.size(v) == dim)
        return corpus.withColumn(
            out_col, F.when(valid, (-best["nci"]).cast("int"))
        )

    ct = np.asarray(centroids, dtype=np.float64).T  # dim × k
    hv = np.asarray(halves, dtype=np.float64)  # k

    @F.pandas_udf("int")
    def assign(vecs: pd.Series) -> pd.Series:
        raw = vecs.to_numpy()
        ok = np.array([v is not None and len(v) == dim for v in raw], dtype=bool)
        out = pd.array([pd.NA] * len(raw), dtype="Int32")
        if ok.any():
            m = np.stack(raw[ok]).astype(np.float64)
            out[ok] = np.argmax(m @ ct - hv, axis=1).astype("int32")
        return pd.Series(out)

    return corpus.withColumn(out_col, assign(F.col(vec_col)))


def ivf_train(
    corpus: DataFrame,
    k: int = 16,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "auto",
) -> list[list[float]]:
    """Distributed Lloyd's k-means to BUILD the IVF codebook that
    ivf_assign/ivf_topk consume (previously the fit was out of band).

    - init: the k vectors with the smallest md5(id) — deterministic,
      engine-portable, ingest-stable (the hash-order discipline of
      operators/sampling.py).
    - each iteration: one assignment pass (kmeans_assign) + one
      centroid update. The update is posexplode → groupBy(list, pos)
      mean — map-side partial aggregation means the shuffle carries
      k × dim rows per task, never vectors, so an iteration is one
      corpus scan regardless of scale. Empty lists keep their previous
      centroid (the standard Lloyd's convention).
    - the codebook (k × dim floats) is driver-side state by design:
      it is broadcast back as literals/numpy exactly like the
      user-supplied codebooks ivf_assign takes.
    """
    init = (
        corpus.select(id_col, vec_col)
        .filter(F.col(vec_col).isNotNull() & (F.size(vec_col) > 0))
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(k)
        .collect()
    )
    if not init:
        raise ValueError(
            "ivf_train: corpus has no non-null, non-empty vectors to initialize from"
        )
    # fewer usable vectors than requested clusters: clamp (a k-means fit
    # cannot have more clusters than points; raising would make small
    # fixtures unusable)
    k = min(k, len(init))
    centroids = [[float(x) for x in r[vec_col]] for r in init]
    dim = len(centroids[0])
    for _ in range(iters):
        assigned = kmeans_assign(corpus, centroids, vec_col=vec_col, method=method)
        rows = (
            # null assignments (null / wrong-dimension vectors) carry
            # positions outside [0, dim) — drop them from the update
            assigned.filter(F.col("km_list").isNotNull())
            .select("km_list", F.posexplode(F.col(vec_col)).alias("pos", "x"))
            .groupBy("km_list", "pos")
            .agg(F.avg("x").alias("m"))
            .collect()
        )
        means: dict = {}
        for r in rows:
            means.setdefault(r.km_list, [0.0] * dim)[r.pos] = float(r.m)
        centroids = [means.get(ci, centroids[ci]) for ci in range(k)]
    return centroids
