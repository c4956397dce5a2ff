"""Benchmark harness: runs the full query catalog at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) and prints ONE JSON line:

    {"metric": ..., "value": total_sec, "unit": "sec",
     "queries": {name: sec, ...}, "sf": 0.1}

Each query is forced end-to-end with the noop sink (full computation,
no driver-side collect). Run with SPARK_GRAFT_CPUS to set local
parallelism.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from intelligencepipeline_spark import get_spark
from intelligencepipeline_spark.caching import (
    fit_build_seconds,
    release_persisted,
    release_shared,
    reset_fit_builds,
)
from intelligencepipeline_spark.queries import QUERIES

# The driver keeps only the LAST ~2000 chars of stdout (BENCH_r01
# proved it: the full ~4 KB per-query line was decapitated and failed
# to parse). So the full per-query map goes to bench_full.json and the
# ONE stdout line carries the total plus this headline subset, sized so
# that every key fits (tests/test_bench_line.py pins it).
HEADLINE = [
    # TPC-H relational deck
    "q1_pricing_summary", "q3_top_revenue", "q9_product_profit",
    "q18_large_orders",
    # dedup family
    "dedup_exact", "minhash_lsh_pairs", "dedup_pipeline",
    "dedup_clusters", "simhash", "span_dedup_clean",
    # similarity / ANN
    "similarity_topk", "ann_lsh_topk", "ann_ivf_topk",
    "embedding_dedup_pairs", "sparse_cosine_pairs",
    # text analysis / corpus prep
    "quality_filter", "lang_id", "tfidf_top_terms", "ner_entities",
    "corpus_prep_pipeline", "token_packing", "bpe_train",
    # engine + streaming
    "engine_enrichment", "consolidation_fold",
    "streaming_consolidation", "chunk_command_fold",
    "session_stats", "asof_join", "hypertable_rollup",
    "streaming_restart_exactly_once", "streaming_join_proof",
    # round-2 operator families
    "scd2_dimension", "point_in_time_join", "hll_mergeable_rollup",
    "heavy_hitters", "pagerank_neardup_graph", "bpe_encode",
    "entity_resolution",
    # slowest entries (regression watch)
    "python_stream_source_resume", "streaming_lsh_edge_ingest",
    "incremental_components_merge", "streaming_session_ttl",
    # round-2 continuation families
    "bloom_prefilter", "cms_frequency", "lsh_recall_audit",
    "boilerplate_line_removal", "python_datasource_sink",
    # round-5 families
    "ivfpq_ann_topk", "ivfpq_residual_topk", "substring_dedup",
    "quantile_sketch_audit", "forget_key_purge",
    "streaming_quantile_sketch",
    # round-6 families
    "unigram_train", "unigram_encode_stats", "streaming_ivfpq_ingest",
    "embedding_drift_audit", "incremental_agg_maintenance",
    "tokenizer_fertility_matrix",
]


def headline_line(
    total: float, substrate_warm_sec: float, timings: dict[str, float],
    sf: float,
) -> str:
    """The one stdout JSON line: the total, the warm block and every
    HEADLINE entry's seconds at 2 dp."""
    return json.dumps(
        {
            "metric": "catalog_total_wall",
            "value": total,
            "unit": "sec",
            "n_queries": len(timings),
            "detail": "bench_full.json",
            "substrate_warm_sec": substrate_warm_sec,
            "queries": {
                k: round(timings[k], 2) for k in HEADLINE if k in timings
            },
            "sf": sf,
        }
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = -1.0
    spark = get_spark(
        "bench", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    only = set(sys.argv[1:])
    reset_fit_builds()  # report only this run's cold builds

    # Warm the session so timed queries measure steady-state engine
    # throughput, not cold start: JVM JIT + codegen, parquet reader
    # init, the interpreted HOF/md5 path (hot in the text operators),
    # window-function machinery, and the Arrow python-worker pool.
    # Touches one data row — does not pre-cache the benchmark tables.
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(1).collect()
    warm = spark.range(2000).selectExpr(
        "id",
        "transform(sequence(1, 20), i -> md5(cast(id + i as string))) AS hs",
    )
    warm.selectExpr(
        "aggregate(hs, '', (a, x) -> CASE WHEN a < x THEN a ELSE x END) AS m",
        "row_number() OVER (PARTITION BY id % 8 ORDER BY id) AS rn",
    ).write.mode("overwrite").format("noop").save()
    warm.select("id").mapInPandas(
        lambda it: it, "id long"
    ).write.mode("overwrite").format("noop").save()
    # Python DataSource lane (r10): the planner/reader/stream-runner
    # worker spawn for a custom Python source costs ~2-4 s the first
    # time a session exercises it; without this warm the first
    # docfeed entry reached in pass 1 carries that cost as its
    # recorded number whenever the budget cutoff denies it a second
    # pass (python_datasource_feed read 2x for exactly this reason in
    # r09's grown catalog).
    from intelligencepipeline_spark.sources.pyfeed import register as _reg
    from intelligencepipeline_spark.streaming import run_available_now

    _reg(spark)
    spark.read.format("docfeed").option("n_docs", 8).option(
        "n_partitions", 2
    ).load().write.mode("overwrite").format("noop").save()
    # stopped and raised on a hang: a warm stream left running would
    # skew every timed measurement it was added to stabilize
    run_available_now(
        spark.readStream.format("docfeed")
        .option("n_docs", 8)
        .option("batch_size", 8)
        .load()
        .writeStream.outputMode("append")
        .format("noop"),
        "docfeed warm-up stream",
    )

    def run_one(name: str) -> float:
        t0 = time.time()
        QUERIES[name](spark, sf_dir).write.mode("overwrite").format(
            "noop"
        ).save()
        return round(time.time() - t0, 3)

    # --- Substrate warm block (TIMED as substrate_warm_sec, INCLUDED
    # in the printed total). The per-entry numbers below measure the
    # steady-state probe path — which catalog entry would otherwise
    # pay a substrate's cold build is an artifact of registry order —
    # but every second of compute this run performs must appear in
    # the total (r11 verdict item 1), so the whole block is timed and
    # added to `value`, and reported separately so the per-entry sum
    # remains comparable with earlier rounds.
    t_warm0 = time.time()

    # Fit-once ANN indexes (IVF cells, PQ codebooks) are written at
    # ingest time in a real deployment (operators/ivf.py docstring);
    # after the driver regenerates testdata their on-disk cache keys
    # are cold, so pre-build them once in this warm block — the timed
    # pass then measures the steady-state probe path, run-to-run
    # comparable. The seeded stores and ingest shards behind
    # release_provenance_chain, incremental_components_merge and
    # streaming_lsh_edge_ingest are the same kind of artifact, so
    # every caching.fit_once cache is built here, and a run on warm
    # caches reports no per-entry builds. Cold builds are logged per
    # cache root and reported in bench_full.json.
    # (streaming_ivfpq_ingest shares ivfpq_incremental's index cache
    # key, streaming_ivfpq_probe ivfpq_ann_topk's — their fit side is
    # warmed by those prebuilds; the streaming machinery itself is
    # per-run scratch and is the measured cost)
    for name in (
        "ann_ivf_topk", "pq_ann_topk", "ivfpq_ann_topk",
        "ivfpq_residual_topk", "ivfpq_incremental",
        "release_provenance_chain", "incremental_components_merge",
        "streaming_lsh_edge_ingest",
    ):
        if name in QUERIES and (not only or name in only):
            run_one(name)

    # Same argument for the dedup family's shared substrates: the
    # shingle table / verified LSH edge set are materialized AT REST
    # once at ingest in a real deployment (_shared_shingles docstring);
    # which catalog entry pays their cold build is an artifact of
    # registry order (the r08 window rotation moved substrate
    # consumers to position 1 and their bench numbers jumped 2-6x).
    # Warm them here (timed as substrate_warm_sec) so every ordering
    # measures steady state — ALSO for filtered runs (`bench.py
    # dedup_clusters`): a single-entry number that includes the cold
    # substrate build is not comparable to the bench_full.json numbers
    # bench_diff triages against, which is exactly when `only` gets
    # used.
    from intelligencepipeline_spark.queries import (
        _funnel_stages,
        _shared_base_components,
        _shared_lsh_edges,
        _shared_shingles,
    )

    from intelligencepipeline_spark.queries import (
        _shared_bpe_merges,
        _shared_unigram_model,
        _shared_wordpiece_vocab,
    )

    _shared_shingles(spark, sf_dir).count()
    # banded candidate pair set (r11): 7 entries + the verified-edge
    # substrate consume the identical default-parameter band join —
    # the at-rest join product a dedup run writes once.
    from intelligencepipeline_spark.queries import _shared_lsh_candidates

    _shared_lsh_candidates(spark, sf_dir).count()
    _shared_lsh_edges(spark, sf_dir).count()
    _shared_base_components(spark, sf_dir).count()
    # tokenizer fit substrates (r11): 7 entries replay the identical
    # BPE/unigram/WordPiece trainings — fit-once artifacts at ingest
    # in a real deployment (caching.shared_fit docstring); warm them
    # in this block for the same registry-order-independence reason.
    _shared_bpe_merges(spark, sf_dir)
    _shared_unigram_model(spark, sf_dir)
    _shared_wordpiece_vocab(spark, sf_dir)
    # LM-gate score frame (r11): four entries + the funnel's LM stage
    # consume the identical per-doc scoring pass — the at-rest score
    # column a curation run writes once; warm it here likewise.
    from intelligencepipeline_spark.queries import _shared_lm_gate

    _shared_lm_gate(spark, sf_dir).count()
    # NB-classifier score frame (r11): three entries consume the
    # identical trained-NB scoring pass — same at-rest-score argument
    # as the LM gate; warm it here likewise.
    from intelligencepipeline_spark.queries import _shared_nb_scores

    _shared_nb_scores(spark, sf_dir).count()
    # funnel stage frames (r10): three entries (corpus_dedup_funnel,
    # training_release_manifest, release_provenance_chain) consume the
    # identical survivor chain — at-rest tables of the curation run.
    _funnel_stages(spark, sf_dir)[4].count()

    substrate_warm_sec = round(time.time() - t_warm0, 3)
    warm_builds = fit_build_seconds()
    reset_fit_builds()

    # The host shows episodic multi-second scheduling stalls (same
    # query: 0.9s one run, 10s the next; load spikes from co-tenants
    # hit random WINDOWS of the run, so untouched entries read 1.7x
    # slower in one bench and normal in the next). UNIFORM stall
    # policy — the same rule for EVERY entry, with no reference to any
    # prior round's numbers (a prior-conditioned or gate-conditioned
    # re-measure would bias the published bench toward passing the
    # regression gate): TWO full passes over the whole catalog,
    # per-entry MIN. The min of independent passes is the standard
    # noise-floor estimator under co-tenant interference — a one-pass
    # load spike cannot survive it, while a real plan regression is
    # present in both passes and stays. Entries whose min is still
    # noisy (> 2.5s) get one extra measurement.
    t_start = time.time()
    # Wall budget: the harness runs bench under an external timeout; a
    # co-tenant load episode must degrade pass-2 coverage (later
    # registry positions keep their pass-1 number — a value-independent
    # cutoff, so no gate bias), never kill the run.
    budget = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET", "700"))
    timings: dict[str, float] = {}
    # Per-entry measurement count (r11 verdict item 3): lets the
    # round-over-round diff separate min-of-N coverage effects from
    # code effects when the budget cutoff truncates pass 2.
    passes: dict[str, int] = {}
    for name in QUERIES:
        if only and name not in only:
            continue
        timings[name] = run_one(name)
        passes[name] = 1
    # Pass 2 runs in REVERSE registry order: under the budget cutoff a
    # forward second pass systematically denies the registry TAIL its
    # second measurement — the r09 bias that made python_datasource_feed
    # read 2x (its only number carried the cold Python-DataSource lane).
    # Reversed, the tail gets its min-of-two and head entries (measured
    # once, freshly warmed) are covered by the >2.5s top-up below.
    for name in reversed(list(timings)):
        if time.time() - t_start > budget:
            break
        timings[name] = min(timings[name], run_one(name))
        passes[name] += 1
    for name, t in list(timings.items()):
        if t > 2.5 and time.time() - t_start <= budget:
            timings[name] = min(t, run_one(name))
            passes[name] += 1

    entry_builds = fit_build_seconds()
    release_persisted()
    release_shared()  # per-entry + shared substrates (ownership contract)
    # Total = per-entry sum + the substrate warm block, so the printed
    # value charges every second of compute this run performed. The
    # per-entry sum alone is kept in bench_full.json as
    # catalog_entries_sec for comparability with pre-r12 rounds.
    entries_total = round(sum(timings.values()), 3)
    total = round(entries_total + substrate_warm_sec, 3)

    full_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_full.json"
    )
    with open(full_path, "w") as fh:
        json.dump(
            {
                "metric": "catalog_total_wall",
                "value": total,
                "unit": "sec",
                "n_queries": len(timings),
                "queries": timings,
                "sf": sf,
                "substrate_warm_sec": substrate_warm_sec,
                "catalog_entries_sec": entries_total,
                "fit_cache_builds": {
                    "substrate_warm": warm_builds,
                    "catalog_entries": entry_builds,
                    "note": (
                        "cold fit_once build sec per cache root, already"
                        " inside the timings: substrate_warm in"
                        " substrate_warm_sec (so in value);"
                        " catalog_entries in the building entry's first"
                        " pass, which value keeps only where that pass"
                        " was the entry's minimum"
                    ),
                },
                "passes": passes,
                "n_pass2": sum(1 for n in passes.values() if n >= 2),
            },
            fh,
        )

    print(headline_line(total, substrate_warm_sec, timings, sf))


if __name__ == "__main__":
    main()
