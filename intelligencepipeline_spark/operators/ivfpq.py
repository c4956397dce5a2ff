"""IVFPQ — the faiss-standard composition of the two ANN quantizers
this package already proves separately (Jégou et al., TPAMI 2011, the
IVFADC layout): an IVF coarse quantizer partitions the corpus into
cells, vectors inside each cell are stored as m-byte PQ codes, and a
query (1) picks its n_probe nearest coarse cells, (2) ADC-scans ONLY
those cells' code table, (3) exact-re-ranks the shortlist.

Neither part alone is the 100 TB ANN architecture:

* IVF alone still stores (and re-rank-scans) raw vectors per probed
  cell — 256 bytes/vector at 64-d float;
* PQ alone scans the WHOLE code table per query — compressed, but
  O(corpus).

Composed, a query touches ~(n_probe/k_coarse) of a table that is
already dim*4/m bytes per row (here: 2/8 of a 32-byte-per-vector
table), and the at-rest layout — code table PARTITIONED BY cell —
turns the probe into parquet partition pruning, so the files of
unprobed cells are never opened (pinned by tests/test_plan_audit.py).

Determinism discipline (same as operators/kmeans + pq_fit_integer —
what makes the DuckDB oracle replay the ENTIRE path move-for-move):
quantized integer vectors, exact integer squared-L2 everywhere, argmin
ties to the smaller id, floor(sum/count) centroid updates, seeds = the
smallest ids, fixed iteration counts. The coarse fit is
operators/kmeans.kmeans (the embedding_kmeans unroll), the codebook
fit is operators/pq.pq_fit_integer (the pq_ann_topk unroll), and the
probe selection is a pure-python exact-integer argsort — nothing in
the query path is float-order dependent.

Both encodings are implemented: ``residual=False`` PQ-encodes RAW
vectors (one shared ADC table per query), ``residual=True`` is the
faiss-default IVFADC refinement — codes store
r = vector - coarse_centroid[cell], spending the same code budget on
the within-cell offset (better recall, identical storage) at the cost
of one ADC lookup table per probed cell. The layout, probe, shortlist
and exact re-rank are identical either way.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from intelligencepipeline_spark.caching import fit_once
from intelligencepipeline_spark.operators.litexpr import (
    int_array_lit,
    int_matrix_lit,
)
from intelligencepipeline_spark.operators.similarity import SCALE


def ivfpq_index_integer(
    embeddings: DataFrame,
    k_coarse: int = 8,
    m: int = 8,
    k_pq: int = 16,
    iters: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cache_root: str | None = None,
    residual: bool = False,
    sig_extra: str = "",
) -> tuple[dict[int, list[int]], dict[int, dict[int, list[int]]], DataFrame]:
    """Build (or load) the fit-once IVFPQ index. Returns
    ``(coarse_centroids, pq_codebooks, table)`` where table =
    (id, qvec, codes, cell) — at rest PARTITIONED BY cell when
    ``cache_root`` is given (:func:`caching.fit_once`), so the probe
    path partition-prunes and never re-fits.

    ``residual=True`` is the faiss-default IVFADC refinement: PQ
    codebooks train on and codes store r = qvec - coarse_centroid[cell]
    instead of the raw vector. Residuals are centered near zero, so
    the same m×k code budget spends its resolution on the
    within-cell offset rather than re-describing the cell location —
    better recall at identical storage. The residual subtraction is
    expression-side (zip_with against a literal centroid matrix
    indexed by the assigned cell — codegen, no extra pass); queries
    then need one ADC lookup table PER PROBED CELL (the query residual
    differs per cell), still n_probe tiny driver tables.

    Build cost: the coarse fit and the PQ fit each follow their
    operator's bounded shape (expression-only assignment, one keyed
    agg per round, k·dim driver state); the combine is ONE equi-join
    of two projections of the same scan, paid once at index-build
    time. qvec is kept in the at-rest table so the exact re-rank reads
    the probed partitions only — raw-vector storage stays cold."""
    from intelligencepipeline_spark.operators.kmeans import kmeans
    from intelligencepipeline_spark.operators.pq import (
        codebooks_from_json,
        pq_fit_integer,
    )

    def fit() -> tuple[dict, dict, DataFrame]:
        assigned, coarse = kmeans(
            embeddings, k=k_coarse, iterations=iters,
            id_col=id_col, vec_col=vec_col,
        )
        if residual:
            cent_lit = int_matrix_lit([coarse[c] for c in sorted(coarse)])
            rvec = F.zip_with(
                "qvec",
                F.element_at(cent_lit, F.col("cluster") + 1),
                lambda a, b: a - b,
            )
            cbs, coded = pq_fit_integer(
                assigned.select(id_col, rvec.alias("rvec")),
                m=m, k=k_pq, iters=iters, dim=dim,
                id_col=id_col, vec_col="rvec", pre_quantized=True,
            )
            table = coded.select(id_col, "codes").join(
                assigned.select(
                    id_col, "qvec", F.col("cluster").alias("cell")
                ),
                id_col,
            )
        else:
            cbs, coded = pq_fit_integer(
                embeddings, m=m, k=k_pq, iters=iters, dim=dim,
                id_col=id_col, vec_col=vec_col,
            )
            table = coded.join(
                assigned.select(id_col, F.col("cluster").alias("cell")),
                id_col,
            )
        return coarse, cbs, table

    if cache_root is None:
        return fit()

    def build(d: str) -> None:
        coarse, cbs, table = fit()
        table.write.partitionBy("cell").parquet(os.path.join(d, "table"))
        with open(os.path.join(d, "quantizers.json"), "w") as fh:
            json.dump({"coarse": coarse, "pq": cbs}, fh)

    # sig_extra disambiguates indexes built over a FILTERED view of
    # the same files (inputFiles alone would collide the cache keys)
    base = fit_once(
        cache_root,
        embeddings,
        f"ivfpq,kc={k_coarse},m={m},kpq={k_pq},it={iters},s={SCALE},"
        f"res={int(residual)},x={sig_extra}",
        build,
    )
    with open(os.path.join(base, "quantizers.json")) as fh:
        raw = json.load(fh)
    coarse = {
        int(c): [int(v) for v in cent] for c, cent in raw["coarse"].items()
    }
    table = embeddings.sparkSession.read.parquet(os.path.join(base, "table"))
    return coarse, codebooks_from_json(raw["pq"]), table


def probe_cells(
    coarse: dict[int, list[int]], query_qvec: list[int], n_probe: int
) -> list[int]:
    """The n_probe coarse cells nearest the query — exact python-int
    squared-L2, ties to the smaller cell id (the assign_clusters
    tie rule, so probe selection and assignment can't disagree)."""
    d = {
        cid: sum((int(q) - int(c)) ** 2 for q, c in zip(query_qvec, cent))
        for cid, cent in coarse.items()
    }
    return sorted(d, key=lambda cid: (d[cid], cid))[:n_probe]


def ivfpq_topk_integer(
    embeddings: DataFrame,
    query_id: int,
    topk: int = 10,
    n_probe: int = 2,
    k_coarse: int = 8,
    m: int = 8,
    k_pq: int = 16,
    iters: int = 2,
    dim: int = 64,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cache_root: str | None = None,
    residual: bool = False,
) -> DataFrame:
    """IVFPQ ANN top-k: probe n_probe coarse cells, ADC-scan only
    their PQ codes (partition-pruned when the index is at rest),
    exact-re-rank the shortlist. Returns
    (id, cell, adc, d2) ascending by (d2, id).

    With ``residual=True`` (the faiss IVFADC default) the codes store
    within-cell residuals, so the ADC pass uses one lookup table per
    probed cell (query residual differs per cell) — each probed cell's
    branch is still a partition-pruned scan + codegen lookup sum, and
    the branches union before the shortlist cut."""
    from functools import reduce

    from intelligencepipeline_spark.operators.pq import (
        adc_expr_integer,
        adc_lut_integer,
        pq_adc_rerank_integer,
    )
    from intelligencepipeline_spark.operators.similarity import quantize

    coarse, cbs, table = ivfpq_index_integer(
        embeddings, k_coarse=k_coarse, m=m, k_pq=k_pq, iters=iters,
        dim=dim, id_col=id_col, vec_col=vec_col, cache_root=cache_root,
        residual=residual,
    )
    qrow = (
        embeddings.filter(F.col(id_col) == query_id)
        .select(quantize(F.col(vec_col)).alias("qv"))
        .collect()
    )
    if not qrow:
        raise ValueError(f"query id {query_id} not in corpus")
    qvec = [int(v) for v in qrow[0]["qv"]]
    probes = probe_cells(coarse, qvec, n_probe)
    if not residual:
        cands = table.filter(
            F.col("cell").isin([int(c) for c in probes])
            & (F.col(id_col) != query_id)
        )
        return pq_adc_rerank_integer(
            cands, cbs, qvec, k=topk, shortlist=shortlist,
            id_col=id_col, passthrough=("cell",),
        )

    branches = []
    for c in probes:
        q_res = [qvec[d] - coarse[c][d] for d in range(len(qvec))]
        lut = adc_lut_integer(cbs, q_res)
        branches.append(
            table.filter(
                (F.col("cell") == int(c)) & (F.col(id_col) != query_id)
            ).select(
                id_col, "cell", "qvec", adc_expr_integer(lut).alias("adc")
            )
        )
    short = (
        reduce(lambda a, b: a.unionByName(b), branches)
        .orderBy(F.asc("adc"), F.asc(id_col))
        .limit(shortlist)
    )
    qlit = int_array_lit(qvec)
    exact = short.select(
        id_col,
        "cell",
        "adc",
        F.aggregate(
            F.zip_with("qvec", qlit, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("d2"),
    )
    return exact.orderBy(F.asc("d2"), F.asc(id_col)).limit(topk)


def ivfpq_append_integer(
    new_vectors: DataFrame,
    coarse: dict[int, list[int]],
    codebooks: dict[int, dict[int, list[int]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """INCREMENTAL index maintenance — the operation a live 100 TB ANN
    deployment runs every ingest batch: new vectors enter an EXISTING
    index by (1) coarse-assigning to the fitted cells and (2)
    PQ-encoding under the fitted codebooks — both expression-only
    projections over the new batch (codegen, no shuffle, no refit, no
    touch of the existing table). Returns (id, qvec, codes, cell) rows
    appendable to the index table (at rest: write them into the
    matching cell partitions). Quantizer drift is the operational
    trade: refit on a cadence, not per batch — faiss's own guidance."""
    from intelligencepipeline_spark.operators.kmeans import assign_clusters
    from intelligencepipeline_spark.operators.pq import pq_encode_integer
    from intelligencepipeline_spark.operators.similarity import quantize

    q = new_vectors.select(
        F.col(id_col).alias(id_col), quantize(F.col(vec_col)).alias("qvec")
    )
    assigned = assign_clusters(q, coarse, id_col)
    coded = pq_encode_integer(assigned.select(id_col, "qvec"), codebooks, id_col)
    return coded.join(
        assigned.select(id_col, F.col("cluster").alias("cell")), id_col
    )
