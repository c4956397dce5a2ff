"""Product quantization (PQ) — compressed-domain approximate nearest
neighbor, completing the ANN family (brute force / hyperplane-LSH /
IVF / PQ): vectors are stored as m byte codes instead of dim floats
(64-d float -> 4 bytes here, a 64× compression), and queries scan the
CODES with an asymmetric-distance lookup table (ADC, Jégou et al.,
"Product Quantization for Nearest Neighbor Search", TPAMI 2011).

Determinism discipline (same as operators/ivf.py): codebooks train
with Lloyd's on a deterministic md5 hash-sample, seeds are the
md5-smallest sample rows, all math is integer-quantized input with
exact integer sums per step — the fitted codebooks, the codes and the
ADC scores are bit-reproducible run to run.

Scale shape at 100 TB:

* fit    — bounded sample collect + driver numpy per subspace
  (m small k-means, microseconds; corpus-size independent);
* encode — ONE distributed Arrow-batched pass, broadcast codebooks;
  the code table is dim*4/m bytes per vector — the thing you can
  afford to keep hot when the raw vectors must live cold;
* query  — build the m×k lookup table on the driver (tiny), broadcast
  it, one scan of the CODE table summing m table lookups per row +
  TakeOrdered(k). No shuffle, no raw-vector reads.
* compose with IVF: partition codes by IVF cell and a probe reads
  n_probe/k of the code table — the faiss IVFPQ layout.

Iterative fit => no single-statement SQL oracle (SURVEY's non-SQL
category); correctness is pinned by determinism + recall tests vs the
exact brute-force baseline (tests/test_pq.py).
"""

from __future__ import annotations

import json
import os

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from intelligencepipeline_spark.caching import fit_once
from intelligencepipeline_spark.operators.ivf import _sample_matrix
from intelligencepipeline_spark.operators.litexpr import (
    int_array_lit,
    int_matrix_lit,
)
from intelligencepipeline_spark.operators.similarity import SCALE


def _lloyd(mat: np.ndarray, k: int, iters: int) -> np.ndarray:
    """Deterministic Lloyd's (same update rule as ivf.kmeans_fit)."""
    cents = mat[:k].copy()
    for _ in range(iters):
        d = -2.0 * (mat @ cents.T) + (cents * cents).sum(axis=1)[None, :]
        cell = d.argmin(axis=1)
        new_c = cents.copy()
        for c in range(k):
            m = cell == c
            if m.any():
                new_c[c] = mat[m].mean(axis=0)
        cents = new_c
    return cents


def pq_fit(
    embeddings: DataFrame,
    m: int = 4,
    k: int = 16,
    iters: int = 5,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_cap: int = 65536,
) -> np.ndarray:
    """Train per-subspace codebooks. Returns (m, k, dim//m)."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    mat = _sample_matrix(embeddings, sample_cap, id_col, vec_col)
    if len(mat) < k:
        raise ValueError(f"sample ({len(mat)}) smaller than k ({k})")
    dsub = dim // m
    return np.stack(
        [_lloyd(mat[:, j * dsub:(j + 1) * dsub], k, iters) for j in range(m)]
    )


def pq_encode(
    embeddings: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One Arrow-batched pass: (id, codes array<int> of length m)."""
    spark = embeddings.sparkSession
    bc = spark.sparkContext.broadcast(codebooks)

    def enc(batches):
        cbs = bc.value
        m, _, dsub = cbs.shape
        for pdf in batches:
            q = np.floor(
                np.stack(pdf[vec_col].to_numpy()).astype(np.float64) * SCALE
            )
            codes = np.empty((len(pdf), m), dtype=np.int32)
            for j in range(m):
                sub = q[:, j * dsub:(j + 1) * dsub]
                cj = cbs[j]
                d = -2.0 * (sub @ cj.T) + (cj * cj).sum(axis=1)[None, :]
                codes[:, j] = d.argmin(axis=1)
            out = pdf[[id_col]].copy()
            out["codes"] = list(codes)
            yield out

    return embeddings.select(id_col, vec_col).mapInPandas(
        enc, f"{id_col} long, codes array<int>"
    )


def pq_topk(
    codes: DataFrame,
    codebooks: np.ndarray,
    query_vec: np.ndarray,
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """ADC top-k over the code table: driver builds the m×k_centroids
    squared-distance lookup table from the (quantized) query; one scan
    sums m lookups per row; TakeOrdered finishes. Returns
    (id, adc_dist) ascending."""
    m, kc, dsub = codebooks.shape
    q = np.floor(np.asarray(query_vec, dtype=np.float64) * SCALE)
    lut = np.empty((m, kc))
    for j in range(m):
        diff = codebooks[j] - q[j * dsub:(j + 1) * dsub][None, :]
        lut[j] = (diff * diff).sum(axis=1)
    spark = codes.sparkSession
    bc = spark.sparkContext.broadcast(lut)

    def score(batches):
        table = bc.value
        mm = table.shape[0]
        for pdf in batches:
            cd = np.stack(pdf["codes"].to_numpy())
            dist = np.zeros(len(pdf))
            for j in range(mm):
                dist += table[j, cd[:, j]]
            out = pdf[[id_col]].copy()
            out["adc_dist"] = dist
            yield out

    scored = codes.mapInPandas(score, f"{id_col} long, adc_dist double")
    return scored.orderBy(F.asc("adc_dist"), F.asc(id_col)).limit(k)


def pq_encode_integer(
    q: DataFrame,
    codebooks: dict[int, dict[int, list[int]]],
    id_col: str = "vec_id",
) -> DataFrame:
    """Encode (id, qvec) rows under FIXED literal integer codebooks:
    one expression-only projection computing every subspace's code
    (m·k integer folds over literal centroids — pure codegen, no UDF,
    no shuffle; argmin ties to the smaller centroid id). This is both
    pq_fit_integer's assignment step and the standalone APPEND path —
    new vectors enter an existing index through exactly this function,
    no refit.

    Shape: per subspace, ONE transform over a literal (k, dsub)
    codebook matrix (the assign_clusters trick) — m transform
    expressions total instead of m·k separate folds, so Janino compile
    time is k-independent; math and the tie-to-smaller-id rule are
    identical."""
    m = len(codebooks)
    k = len(codebooks[0])
    dsub = len(codebooks[0][0])

    def cands_for(sub, cb_lit):
        # factory keeps the HOF lambda at arity 2 (element, index) —
        # the index IS the centroid id (contiguous 0..k-1, guarded)
        return F.transform(
            cb_lit,
            lambda cvec, i: F.struct(
                F.aggregate(
                    F.zip_with(sub, cvec, lambda x, y: (x - y) * (x - y)),
                    F.lit(0).cast("long"),
                    lambda acc, v: acc + v,
                ).alias("dist2"),
                i.cast("int").alias("cluster"),
            ),
        )

    code_cols = []
    for j in range(m):
        if sorted(codebooks[j]) != list(range(k)):
            raise ValueError("codebook centroid ids must be 0..k-1")
        sub = F.slice(F.col("qvec"), j * dsub + 1, dsub)
        cb_lit = int_matrix_lit([codebooks[j][c] for c in range(k)])
        code_cols.append(F.array_min(cands_for(sub, cb_lit))["cluster"])
    return q.select(
        id_col, "qvec", F.array(*code_cols).cast("array<int>").alias("codes")
    )


def pq_fit_integer(
    embeddings: DataFrame,
    m: int = 8,
    k: int = 16,
    iters: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pre_quantized: bool = False,
) -> tuple[dict[int, dict[int, list[int]]], DataFrame]:
    """Distributed PQ codebook fit in EXACT integer space — the
    oracle-replayable variant of pq_fit: per-subspace Lloyd with the
    operators/kmeans discipline (quantized longs, integer squared-L2,
    argmin ties to the smaller centroid id, floor(sum/count) updates,
    seeds = the k smallest ids' subvectors, empty clusters keep their
    previous centroid). All m subspaces train in the SAME Spark jobs:
    assignment is one expression-only projection computing every
    subspace's code (m·k integer folds over literal centroids — pure
    codegen, no UDF, no shuffle), the update is ONE map-side-combinable
    (subspace, centroid, dim) agg, and the k·dim longs of codebook
    state cross the driver between rounds, corpus-size independent.

    Returns ``(codebooks, coded)``: codebooks[j][c] = list of dsub
    ints; coded = (id, qvec, codes array<int>) under the FINAL
    codebooks — the assignment IS the code table, so encode is free.

    ``pre_quantized=True`` treats ``vec_col`` as an already-integer
    ``array<long>`` (e.g. IVF residuals) and skips the quantize step.
    """
    from intelligencepipeline_spark.operators.similarity import quantize

    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    if k < 1 or iters < 1:
        raise ValueError("k and iters must be >= 1")
    dsub = dim // m

    def assign(q: DataFrame, cbs: dict) -> DataFrame:
        return pq_encode_integer(q, cbs, id_col=id_col)

    qexpr = (
        F.col(vec_col).cast("array<long>")
        if pre_quantized
        else quantize(F.col(vec_col))
    )
    q = embeddings.select(
        F.col(id_col).alias(id_col), qexpr.alias("qvec")
    )
    seeds = q.orderBy(id_col).limit(k).collect()  # k·dim longs
    if len(seeds) < k:
        raise ValueError(f"corpus ({len(seeds)}) smaller than k ({k})")
    cbs = {
        j: {
            c: [int(v) for v in seeds[c]["qvec"][j * dsub:(j + 1) * dsub]]
            for c in range(k)
        }
        for j in range(m)
    }
    coded = assign(q, cbs)
    for _ in range(iters - 1):
        upd = (
            coded.select("codes", F.posexplode("qvec").alias("dim", "v"))
            .select(
                F.floor(F.col("dim") / dsub).cast("int").alias("j"),
                F.element_at(
                    "codes", F.floor(F.col("dim") / dsub).cast("int") + 1
                ).alias("c"),
                (F.col("dim") % dsub).cast("int").alias("d"),
                "v",
            )
            .groupBy("j", "c", "d")
            .agg(
                F.floor(
                    F.sum("v").cast("double") / F.count(F.lit(1)).cast("double")
                )
                .cast("long")
                .alias("cv")
            )
            .collect()  # k·dim rows of longs, corpus-independent
        )
        new_c = {j: {c: list(cent) for c, cent in cbs[j].items()} for j in cbs}
        for row in upd:  # empty clusters keep previous dims
            new_c[int(row["j"])][int(row["c"])][int(row["d"])] = int(row["cv"])
        cbs = new_c
        coded = assign(q, cbs)
    return cbs, coded


def pq_index_integer(
    embeddings: DataFrame,
    m: int = 8,
    k: int = 16,
    iters: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cache_root: str | None = None,
) -> tuple[dict[int, dict[int, list[int]]], DataFrame]:
    """Fit-once cache over pq_fit_integer (:func:`caching.fit_once`):
    the codebooks land as JSON, the coded table as parquet, and the
    query path never re-fits or re-encodes."""
    if cache_root is None:
        return pq_fit_integer(embeddings, m, k, iters, dim, id_col, vec_col)

    def build(d: str) -> None:
        cbs, coded = pq_fit_integer(
            embeddings, m, k, iters, dim, id_col, vec_col
        )
        coded.write.parquet(os.path.join(d, "coded"))
        with open(os.path.join(d, "codebooks.json"), "w") as fh:
            json.dump(cbs, fh)

    base = fit_once(
        cache_root, embeddings, f"int,m={m},k={k},it={iters},s={SCALE}", build
    )
    with open(os.path.join(base, "codebooks.json")) as fh:
        cbs = codebooks_from_json(json.load(fh))
    return cbs, embeddings.sparkSession.read.parquet(
        os.path.join(base, "coded")
    )


def codebooks_from_json(raw: dict) -> dict[int, dict[int, list[int]]]:
    """Integer codebooks back from their JSON form (keys are strings)."""
    return {
        int(j): {int(c): [int(v) for v in cent] for c, cent in sub.items()}
        for j, sub in raw.items()
    }


def adc_lut_integer(
    codebooks: dict[int, dict[int, list[int]]], query_qvec: list[int]
) -> list[list[int]]:
    """The m×k ADC lookup table for one (possibly residualized) query:
    exact python-int squared-L2 between each subspace's query slice
    and each codebook centroid."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    return [
        [
            sum(
                (int(query_qvec[j * dsub + d]) - codebooks[j][c][d]) ** 2
                for d in range(dsub)
            )
            for c in range(len(codebooks[j]))
        ]
        for j in range(m)
    ]


def adc_expr_integer(lut: list[list[int]]):
    """The ADC score as a pure codegen expression over a ``codes``
    column: m literal-array lookups summed — no UDF, no shuffle."""
    lut_lit = int_matrix_lit(lut)
    return sum(
        F.element_at(
            F.element_at(lut_lit, j + 1), F.element_at("codes", j + 1) + 1
        )
        for j in range(len(lut))
    ).cast("long")


def pq_adc_rerank_integer(
    coded: DataFrame,
    codebooks: dict[int, dict[int, list[int]]],
    query_qvec: list[int],
    k: int = 10,
    shortlist: int = 100,
    id_col: str = "vec_id",
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """ADC + exact refine over the integer code table: the driver
    builds the m×k squared-distance lookup table from the quantized
    query (exact python ints), the scan sums m literal-array lookups
    per row (codegen; no shuffle, no raw-vector reads), TakeOrdered
    keeps ``shortlist``, and ONLY those rows' vectors are re-ranked
    with the exact integer L2 — the faiss ADC+refine layout with every
    number oracle-replayable. Returns (id, *passthrough, adc, d2) by
    (d2, id); ``passthrough`` names extra ``coded`` columns carried to
    the output (e.g. the IVF ``cell`` in the IVFPQ composition)."""
    lut = adc_lut_integer(codebooks, query_qvec)
    short = (
        coded.select(
            id_col, *passthrough, "qvec",
            adc_expr_integer(lut).alias("adc"),
        )
        .orderBy(F.asc("adc"), F.asc(id_col))
        .limit(shortlist)
    )
    qlit = int_array_lit(query_qvec)
    exact = short.select(
        id_col,
        *passthrough,
        "adc",
        F.aggregate(
            F.zip_with("qvec", qlit, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("d2"),
    )
    return exact.orderBy(F.asc("d2"), F.asc(id_col)).limit(k)


def pq_topk_rerank(
    codes: DataFrame,
    raw: DataFrame,
    codebooks: np.ndarray,
    query_vec: np.ndarray,
    k: int = 10,
    shortlist: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The production PQ pattern: ADC over the code table produces a
    ``shortlist`` (cheap, compressed-domain), then ONLY those rows'
    raw vectors are read for an exact integer-L2 re-rank. At 100 TB
    the exact pass touches `shortlist` rows instead of the corpus —
    the code table is the index, the raw table is cold storage.
    Returns (id, d2) ascending, exact distances."""
    short = pq_topk(codes, codebooks, query_vec, k=shortlist, id_col=id_col)
    q = np.floor(np.asarray(query_vec, dtype=np.float64) * SCALE).astype(
        np.int64
    )
    qlit = int_array_lit(q)
    cand = raw.join(F.broadcast(short.select(id_col)), id_col)
    exact = cand.select(
        id_col,
        F.aggregate(
            F.zip_with(
                F.transform(
                    F.col(vec_col),
                    lambda x: F.floor(x.cast("double") * SCALE).cast("long"),
                ),
                qlit,
                lambda a, b: (a - b) * (a - b),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("d2"),
    )
    return exact.orderBy(F.asc("d2"), F.asc(id_col)).limit(k)
