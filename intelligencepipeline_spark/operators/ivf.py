"""IVF (inverted-file) approximate nearest neighbor — the k-means
coarse-quantizer scale path, complementing the LSH variant
(operators/similarity.lsh_topk).

Everything is deterministic so results are reproducible run-to-run:

* init: the k seed vectors are the rows with the k smallest
  ``md5(vec_id)`` values — spread pseudo-randomly but fixed;
* math: vectors are integer-quantized (``floor(x*1000)``, same as
  operators/similarity); distances and centroid means are exact
  integer sums and single IEEE divisions.

Scale shape (the standard IVF layout at 100 TB — faiss-style
fit-once / probe-many):

* ``kmeans_fit``  — Lloyd's over a DETERMINISTIC HASH-SAMPLE collected
  to the driver (the standard coarse-quantizer training recipe: faiss
  trains on ~100k sampled vectors regardless of corpus size). The
  sample filter is a pushable md5-bucket predicate — no sort, no
  full-corpus pass; iterations are driver-side numpy (microseconds).
* ``ivf_assign``  — ONE distributed pass adding ``cell`` (nearest
  centroid id) via a broadcast centroid matrix in Arrow batches.
* ``ivf_index``   — fit + assign + (optionally) WRITE the table
  partitioned by cell; probes then read only n_probe/k of the data
  (partition pruning does the work). This is the at-rest layout.
* ``ivf_topk``    — query → n_probe nearest cells (driver argsort over
  k centroids) → exact re-rank of just those cells' vectors. With a
  prebuilt index the plan contains NO fit stage at all.

No oracle-SQL entry: the fit is iterative (SURVEY's non-SQL-expressible
category); correctness is pinned by determinism + recall tests against
the brute-force baseline (tests/test_ivf.py).
"""

from __future__ import annotations

import hashlib
import math
import os

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from intelligencepipeline_spark.caching import fit_once
from intelligencepipeline_spark.operators.litexpr import int_array_lit
from intelligencepipeline_spark.operators.similarity import SCALE


def _collect_matrix(
    df: DataFrame, id_col: str, vec_col: str
) -> tuple[np.ndarray, np.ndarray]:
    pdf = df.select(id_col, vec_col).toPandas()
    ids = pdf[id_col].to_numpy()
    mat = np.floor(np.stack(pdf[vec_col].to_numpy()).astype(np.float64) * SCALE)
    return ids, mat


def _hash_bucket(col: F.Column) -> F.Column:
    """Deterministic 0..65535 bucket from md5 — pushable, engine-stable."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 4), 16, 10).cast(
        "long"
    )


def _sample_matrix(
    embeddings: DataFrame, cap: int, id_col: str, vec_col: str
) -> np.ndarray:
    """Deterministic training sample (~cap rows) as a driver matrix, in
    md5-of-id order. The bucket filter is a plain row predicate — at
    100 TB it rides the scan (no sort, no shuffle); only ~cap vectors
    ever reach the driver."""
    n = embeddings.count()
    if n == 0:
        raise ValueError("empty embeddings table")
    buckets = min(65536, max(1, math.ceil(cap * 65536 / n)))
    s = embeddings
    if buckets < 65536:
        s = embeddings.filter(_hash_bucket(F.col(id_col)) < buckets)
    ids, mat = _collect_matrix(s.select(id_col, vec_col), id_col, vec_col)
    order = np.argsort(
        [hashlib.md5(str(int(i)).encode()).hexdigest() for i in ids],
        kind="stable",
    )
    return mat[order]


def kmeans_fit(
    embeddings: DataFrame,
    k: int = 16,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_cap: int = 65536,
) -> np.ndarray:
    """Deterministic Lloyd's k-means on a hash-sampled training set;
    returns the (k, dim) centroid matrix. Cost is ONE bounded sample
    collect + driver numpy — independent of corpus size (the previous
    form ran a full distributed pass per iteration, which put a k-means
    job inside every query that fit lazily)."""
    mat = _sample_matrix(embeddings, sample_cap, id_col, vec_col)
    if len(mat) < k:
        raise ValueError(f"sample ({len(mat)}) smaller than k ({k})")
    centroids = mat[:k].copy()  # md5-order → pseudo-random spread, fixed
    for _ in range(iters):
        d = -2.0 * (mat @ centroids.T) + (centroids * centroids).sum(axis=1)[
            None, :
        ]
        cell = d.argmin(axis=1)
        new_c = centroids.copy()  # empty cells keep their centroid
        for c in range(k):
            m = cell == c
            if m.any():
                new_c[c] = mat[m].mean(axis=0)
        centroids = new_c
    return centroids


def ivf_assign(
    embeddings: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Add ``cell`` = nearest centroid id. At rest, write the table
    partitioned by cell so probes prune partitions."""
    import pandas as pd

    spark = embeddings.sparkSession
    bc = spark.sparkContext.broadcast(centroids)
    cols = embeddings.columns

    def assign(batches):
        cents = bc.value
        for pdf in batches:
            q = np.floor(
                np.stack(pdf[vec_col].to_numpy()).astype(np.float64) * SCALE
            )
            d = -2.0 * (q @ cents.T) + (cents * cents).sum(axis=1)[None, :]
            pdf = pdf.copy()
            pdf["cell"] = d.argmin(axis=1).astype(np.int32)
            yield pdf

    from pyspark.sql import types as T

    # fresh StructType — StructType.add would MUTATE the DataFrame's
    # cached schema object, corrupting later .columns lookups
    schema = T.StructType(
        list(embeddings.schema.fields)
        + [T.StructField("cell", T.IntegerType())]
    )
    return embeddings.select(*cols).mapInPandas(assign, schema)


def ivf_index(
    embeddings: DataFrame,
    n_clusters: int = 16,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cache_root: str | None = None,
) -> tuple[np.ndarray, DataFrame]:
    """Build (or load) the fit-once IVF index: centroids + the table
    WITH ``cell``, optionally persisted PARTITIONED BY cell so probes
    partition-prune (read n_probe/k of the files, not the corpus).

    ``cache_root`` given → the index is written once through
    :func:`caching.fit_once` and reloaded on every later call/process:
    the query path never contains a fit or assignment stage again.
    This is the at-rest layout a 100 TB deployment writes during
    ingest."""

    def fit() -> tuple[np.ndarray, DataFrame]:
        centroids = kmeans_fit(
            embeddings, k=n_clusters, iters=iters,
            id_col=id_col, vec_col=vec_col,
        )
        return centroids, ivf_assign(embeddings, centroids, id_col, vec_col)

    if cache_root is None:
        return fit()

    def build(d: str) -> None:
        centroids, assigned = fit()
        assigned.write.partitionBy("cell").parquet(os.path.join(d, "table"))
        np.save(os.path.join(d, "centroids.npy"), centroids)

    base = fit_once(
        cache_root, embeddings, f"k={n_clusters},it={iters},s={SCALE}", build
    )
    return (
        np.load(os.path.join(base, "centroids.npy")),
        embeddings.sparkSession.read.parquet(os.path.join(base, "table")),
    )


def ivf_topk(
    embeddings: DataFrame,
    query_id: int,
    k: int = 10,
    n_clusters: int = 16,
    n_probe: int = 4,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: np.ndarray | None = None,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """IVF ANN top-k by cosine: probe the ``n_probe`` cells nearest the
    query, exact integer-quantized re-rank inside them. Touches
    ~n_probe/n_clusters of the corpus per query. Pass a prebuilt
    (centroids, assigned) from ``ivf_index`` for the probe-only path."""
    from intelligencepipeline_spark.operators.similarity import (
        cosine,
        int_dot,
        quantize,
    )

    if centroids is None:
        centroids = kmeans_fit(
            embeddings, k=n_clusters, iters=iters, id_col=id_col, vec_col=vec_col
        )
    if assigned is None:
        assigned = ivf_assign(embeddings, centroids, id_col, vec_col)

    qrow = embeddings.filter(F.col(id_col) == query_id).select(vec_col).collect()
    qvec = np.floor(np.array(qrow[0][0], dtype=np.float64) * SCALE)
    d = -2.0 * (centroids @ qvec) + (centroids * centroids).sum(axis=1)
    probe_cells = [int(c) for c in np.argsort(d, kind="stable")[:n_probe]]

    qlit = int_array_lit(qvec, as_long=True)
    cands = assigned.filter(
        F.col("cell").isin(probe_cells) & (F.col(id_col) != query_id)
    )
    scored = cands.select(
        F.col(id_col),
        int_dot(quantize(F.col(vec_col)), qlit).alias("dot"),
        cosine(quantize(F.col(vec_col)), qlit).alias("cosine"),
    )
    return scored.orderBy(F.desc("dot"), F.col(id_col)).limit(k)
