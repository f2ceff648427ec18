"""Distributed embedding moments / PCA / whitening.

Embedding preprocessing for the similarity and dedup operators:
mean-centering, covariance, PCA projection and whitening are the
published preparation steps for cosine-based near-dup and ANN
pipelines (SemDeDup normalizes embeddings; classic LSH/IVF behave
best on decorrelated vectors). The reference's embedding store holds
raw fastText/CoLR vectors with no decorrelation stage
(storage_utils/embedding_store_utils.py:25-40) — this module adds the
missing linear-algebra layer, Spark-first.

Scale shape (the only one that survives 10^12 rows):
- the sufficient statistics (n, sum vector, sum of outer products)
  are MAP-SIDE per-partition numpy folds over Arrow batches
  (mapInPandas), emitting ONE (d + d^2)-float row per partition. The
  driver combines <= n_partitions rows; the corpus never shuffles.
- the eigendecomposition is a d x d driver-side numpy step (the model
  is dictionary-sized; d <= ~2000 keeps the partial rows < ~32 MB);
- projection/whitening broadcasts the (k x d) model inside an
  Arrow-batched pandas UDF — one map-side pass, no shuffle.

Determinism: eigenvectors are sign-ambiguous, so the model fixes each
component's sign by making its largest-|.|-coordinate positive
(ties: lowest index) — reproducible across numpy versions and
partitionings; pinned by the pure-numpy lockstep test.
"""

from __future__ import annotations

from typing import Iterator, NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "embedding_moments",
    "covariance_frame",
    "PCAModel",
    "pca_fit",
    "pca_project",
]

_PARTIAL_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType(), False),
        T.StructField("s1", T.ArrayType(T.DoubleType()), False),
        T.StructField("s2", T.ArrayType(T.DoubleType()), False),
    ]
)


def embedding_moments(
    df: DataFrame, vec_col: str = "embedding"
) -> tuple[int, np.ndarray, np.ndarray]:
    """(n, mean[d], cov[d,d]) of the embedding column — population
    covariance (divide by n, the DuckDB covar_pop convention). NULL
    vectors are skipped; ragged dimensions raise inside the fold.
    One corpus scan, one bounded collect (n_partitions rows)."""

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n = 0
        s1 = s2 = None
        for pdf in batches:
            vals = [v for v in pdf[vec_col] if v is not None]
            if not vals:
                continue
            m = np.asarray([np.asarray(v, dtype=np.float64) for v in vals])
            if s1 is None:
                s1 = np.zeros(m.shape[1])
                s2 = np.zeros((m.shape[1], m.shape[1]))
            n += m.shape[0]
            s1 += m.sum(axis=0)
            s2 += m.T @ m
        if n:
            yield pd.DataFrame(
                {"n": [n], "s1": [s1.tolist()], "s2": [s2.ravel().tolist()]}
            )

    rows = (
        df.select(vec_col)
        .filter(F.col(vec_col).isNotNull())
        .mapInPandas(partials, schema=_PARTIAL_SCHEMA)
        .collect()
    )
    if not rows:
        raise ValueError(f"no non-null vectors in column {vec_col!r}")
    n = sum(r["n"] for r in rows)
    s1 = np.sum([np.asarray(r["s1"]) for r in rows], axis=0)
    d = s1.shape[0]
    s2 = np.sum([np.asarray(r["s2"]).reshape(d, d) for r in rows], axis=0)
    mean = s1 / n
    cov = s2 / n - np.outer(mean, mean)
    return n, mean, cov


def covariance_frame(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """(i, j, cov) upper triangle (i <= j) of the population covariance
    as a DataFrame — d(d+1)/2 rows from the driver-side moments (the
    oracle-checkable surface of embedding_moments)."""
    _n, _mean, cov = embedding_moments(df, vec_col)
    d = cov.shape[0]
    rows = [(i, j, float(cov[i, j])) for i in range(d) for j in range(i, d)]
    return df.sparkSession.createDataFrame(rows, "i int, j int, cov double")


class PCAModel(NamedTuple):
    mean: np.ndarray  # (d,)
    components: np.ndarray  # (k, d), rows = principal axes
    explained_variance: np.ndarray  # (k,) eigenvalues, descending
    whiten: bool


def _fix_signs(components: np.ndarray) -> np.ndarray:
    """Make each component's largest-|.| coordinate positive (ties:
    lowest index) — removes the eigenvector sign ambiguity."""
    out = components.copy()
    for r in range(out.shape[0]):
        j = int(np.argmax(np.abs(out[r])))
        if out[r, j] < 0:
            out[r] = -out[r]
    return out


def pca_fit(
    df: DataFrame, k: int, vec_col: str = "embedding", whiten: bool = False
) -> PCAModel:
    """Fit a k-component PCA from one distributed moments pass plus a
    d x d driver eigendecomposition."""
    _n, mean, cov = embedding_moments(df, vec_col)
    if not 1 <= k <= cov.shape[0]:
        raise ValueError(f"k must be in [1, {cov.shape[0]}], got {k}")
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:k]
    components = _fix_signs(evecs[:, order].T)
    return PCAModel(mean, components, np.maximum(evals[order], 0.0), whiten)


def pca_project(
    df: DataFrame,
    model: PCAModel,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    out_col: str = "components",
) -> DataFrame:
    """(id, components[k]): centered (and, with model.whiten,
    variance-normalized) projection. The (k x d) model rides into an
    Arrow-batched pandas UDF closure — map-side, no shuffle; NULL
    vectors project to NULL."""
    mean = model.mean
    comps = model.components.T  # (d, k)
    if model.whiten:
        comps = comps / np.sqrt(np.maximum(model.explained_variance, 1e-12))

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def project(vs: pd.Series) -> pd.Series:
        out = []
        for v in vs:
            if v is None:
                out.append(None)
            else:
                out.append(
                    ((np.asarray(v, dtype=np.float64) - mean) @ comps).tolist()
                )
        return pd.Series(out)

    return df.select(F.col(id_col), project(F.col(vec_col)).alias(out_col))
