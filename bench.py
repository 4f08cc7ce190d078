"""Headline benchmark: run the HEADLINE queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE
JSON line on stdout (progress and per-query timings go to stderr).

One rule: after an untimed warm-up (see warm_up), the suite runs REPS
times in one session.
Each query reports the median and the min of its REPS walls; ``value`` is
the sum of the medians.  The min sits beside the median, never in its
place: on a noisy host a minimum flatters.  The host is read against
the ``mr_wordcount`` canary in the same run: ``host_factor_vs_quiet_canary``
is its median over CANARY_QUIET, reported at sf0.1 only (the one scale the
quiet figure was measured at).

Each query is forced end to end by ``force`` (every column of every
row; tools/profile.py and tools/scale_stress.py force the same way).
Headline queries that are not registered are counted in ``n_skipped`` and
named on stderr, never silently dropped.

The stdout line carries the totals and the ten slowest queries only, so it
fits a 2000-character output tail whole.  For same-host A/B comparisons
of a change, use the workload benchmark in perfbench/ (BENCHMARK.json).
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Membership, and the family each untimed query is covered by:
# BENCH_COVERAGE.md (tests/test_registry.py keeps the two in step).
HEADLINE = [
    "mr_wordcount",
    "mr_inverted_index",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "basket_pairs",
    "dedup_minhash_lsh",
    "ann_topk",
    "knn_graph",
    "events_sessionize",
    "events_asof_join",
    "corpus_prep",
    "streaming_windowed_counts",
    "streaming_stream_join",
    "streaming_sessionize",
    "streaming_sessionize_native",
    "kmeans_embed",
    "dedup_semantic",
    "quality_repetition",
    "streaming_incremental_rollup",
    "q8_market_share",
    "corpus_ngram_lm_counts",
    "knn_triangles",
    "q21_waiting_suppliers",
    "kv_linearizability_audit",
    "ngram_duplication",
    "boilerplate_source_matrix",
    "lock_grant_audit",
    "minhash_recall_audit",
    "embedding_quantize",
    "q2_min_cost_supplier",
    "q12_shipping_modes",
    "join_skewed_salted",
    "kv_append_linearizability",
    "raft_election_safety",
    "raft_log_matching",
    "streaming_full_outer_join",
    "events_hll_users",
    "events_quantile_sketch",
    "streaming_hll_users",
    "events_hll_merge_audit",
    "events_incident_join",
    "corpus_sample_weighted",
    "dedup_prefix_filter",
    "dedup_substring_spans",
    "dedup_incremental",
    "bm25_topk",
    "ivf_recall_audit",
    "raft_snapshot_audit",
    "streaming_quantile_sketch",
    "streaming_cms_topk",
    "winnowing_fingerprint",
    "corpus_entropy",
    "embedding_pq",
    "hybrid_search_rrf",
    "ann_ivfpq",
    "streaming_asof_join",
    "events_scd2_dimension",
    "quality_gopher_rules",
    "dsir_importance",
    "quality_c4_rules",
    "embedding_hard_negatives",
    "embedding_matryoshka_eval",
    "events_funnel_attribution",
    "kv_client_dedup",
    "table_merge_upsert",
    "table_snapshot_diff",
    "events_audience_overlap",
    "events_transition_matrix",
    "corpus_semantic_decontaminate",
    "events_ab_test_metrics",
    "events_session_paths",
    "tokenizer_fertility",
    "streaming_ab_test_metrics",
    "quality_ccnet_buckets",
    "quality_classifier",
    "quality_classifier_eval",
    "bpe_train",
    "bpe_tokenize",
    "shardkv_gc_audit",
    "raft_persistence_audit",
    "shardkv_availability_audit",
    "streaming_transition_matrix",
    "streaming_transition_matrix_interval_join",
    "streaming_funnel",
    "streaming_retention",
    "corpus_e2e_pipeline",
    "phrase_search",
    "source_kl_divergence",
    "streaming_scd2",
    "corpus_shuffle_shards",
    "lock_linearizability",
    "ctrl_linearizability",
    "streaming_anomaly",
    "streaming_ewma",
    "streaming_session_paths",
    "mr_distributed_sort",
    "mr_generic_wc",
    "q9_product_profit",
    "q18_large_orders",
    "q13_customer_distribution",
    "events_minutely",
    "events_retention",
    "events_exact_median",
    "kv_apply_log",
    "shardkv_migration_diff",
    "dedup_exact",
    "dedup_simhash",
    "dedup_clusters",
    "ann_ivf_kmeans",
    "pca_power_iter",
    "lang_id",
    "tfidf_top_terms",
    "quality_lm_score",
    "corpus_decontaminate",
    "corpus_pack_sequences",
    "multimodal_meta",
    "streaming_dedup",
    "streaming_enriched_counts",
]

CANARY = "mr_wordcount"
CANARY_QUIET = 1.58  # seconds at sf0.1 in BASELINE.md's quiet window
REPS = 3


def tag_warnings(name: str) -> list[str]:
    """Mechanical registry-tag warnings for one query — shared by every
    harness that times queries (bench passes, tools/scale_stress.py via
    run_pass) so a scale-hazardous plan can't run silently."""
    from mapreduceimplementation_spark.registry import (
        BASELINE_CLASS,
        DENSITY_QUADRATIC,
        LINEAR_TWIN,
        LOG_MASS_LINEAR,
        has_tag,
    )

    out = []
    if has_tag(name, LOG_MASS_LINEAR):
        out.append(
            f"# NOTE: {name} is {LOG_MASS_LINEAR} (wall tracks total"
            " per-key log mass x audit fanout; ~k x wall at k x log"
            " inflation is the cost law, not a regression)"
        )
    if has_tag(name, BASELINE_CLASS):
        out.append(
            f"# WARNING: {name} is {BASELINE_CLASS} (exact-but-quadratic"
            " diagnostic) running UNSAMPLED — its timing is a"
            " ground-truth cost, not a serving-path number"
        )
    if has_tag(name, DENSITY_QUADRATIC):
        twin = LINEAR_TWIN.get(name)
        out.append(
            f"# WARNING: {name} is {DENSITY_QUADRATIC} (candidate volume"
            " grows with per-key density SQUARED) — on high-density data"
            + (
                f" route to its linear twin {twin}"
                if twin
                else " use a linear decomposition"
            )
            + " (see the operator docstring's routing rule)"
        )
    return out


def warm_streaming(spark) -> float:
    """One tiny availableNow stream (stateful agg + Python foreachBatch),
    run outside timing: the first stream of a session pays one-time costs
    (the py4j callback server, state-store provider init, listener
    threads) that would otherwise land on whichever timed stream runs
    first.  Returns its wall seconds."""
    import shutil
    import tempfile

    t0 = time.time()
    d = tempfile.mkdtemp(prefix="mri_bench_warm_")
    try:
        spark.range(2).selectExpr(
            "id", "timestamp'2024-01-01 00:00:00' as ts"
        ).write.mode("overwrite").parquet(os.path.join(d, "c0.parquet"))
        sdf = spark.readStream.schema("id long, ts timestamp").parquet(
            os.path.join(d, "c*.parquet")
        )
        agg = sdf.withWatermark("ts", "1 minute").groupBy("id").count()
        q = (
            agg.writeStream.outputMode("update")
            .foreachBatch(lambda df, _b: df.collect())
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return round(time.time() - t0, 3)


def warm_up(spark, *sf_dirs: str) -> float:
    """Untimed: read every table of each sf dir once (parquet footers, the
    JVM's reader code, the page cache), then run warm_streaming and return
    its seconds."""
    for d in sf_dirs:
        for path in sorted(glob.glob(os.path.join(d, "*.parquet"))):
            spark.read.parquet(path).count()
    return warm_streaming(spark)


def force(df):
    """Run ``df`` to the end and return its Row(n, crc): the row count
    beside the sum of crc32(to_json(struct(*))) over every row, so
    Catalyst cannot prune computed columns out of the timing (a plain
    count() would skip e.g. mr_grep.n_hits entirely)."""
    from pyspark.sql import functions as F

    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.crc32(F.encode(F.to_json(F.struct(*df.columns)), "UTF-8"))).alias(
            "crc"
        ),
    ).collect()[0]


def run_pass(spark, qs, sf_dir: str) -> dict[str, float]:
    timings: dict[str, float] = {}
    for name in HEADLINE:
        if name not in qs:
            continue
        for w in tag_warnings(name):
            print(w, file=sys.stderr)
        t0 = time.time()
        row = force(qs[name](spark, sf_dir))
        timings[name] = round(time.time() - t0, 3)
        print(
            f"# {name}: {row['n']} rows (crc {row['crc']}) in {timings[name]}s",
            file=sys.stderr,
        )
    return timings


def median_min(passes: list[dict[str, float]]) -> dict[str, dict[str, float]]:
    """{query: {"median", "min"}} over pass timings ({query: seconds} each)."""
    return {
        n: {
            "median": round(statistics.median(p[n] for p in passes), 3),
            "min": round(min(p[n] for p in passes), 3),
        }
        for n in passes[0]
    }


def summarize(passes: list[dict[str, float]], sf: float | None) -> dict:
    """The bench record from REPS pass timings ({query: seconds} each):
    per-query median and min, the sum of medians, and the canary ratio
    (sf0.1 only).  Queries in HEADLINE but absent from the passes were
    skipped (not registered)."""
    stats = median_min(passes)
    names = [n for n in HEADLINE if n in stats]
    canary = stats[CANARY]["median"] if CANARY in stats else None
    factor = round(canary / CANARY_QUIET, 2) if canary and sf == 0.1 else None
    slowest = sorted(names, key=lambda n: stats[n]["median"], reverse=True)[:10]
    return {
        "metric": "headline_total_wall",
        "value": round(sum(stats[n]["median"] for n in names), 3),
        "unit": "sec",
        "sf": sf,
        "reps": len(passes),
        "n_queries": len(names),
        "n_skipped": len(HEADLINE) - len(names),
        "canary_sec": canary,
        "host_factor_vs_quiet_canary": factor,
        "slowest10": {n: stats[n] for n in slowest},
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    import __spark_entry__ as entrymod
    from mapreduceimplementation_spark.session import get_spark

    spark = get_spark("mri-spark-bench")
    qs = entrymod.queries()

    warm_s = warm_up(spark, sf_dir)
    print(f"# streaming warm-up {warm_s}s", file=sys.stderr)
    skipped = [name for name in HEADLINE if name not in qs]
    if skipped:
        print(f"# skipped (not registered): {skipped}", file=sys.stderr)

    passes = [run_pass(spark, qs, sf_dir) for _ in range(REPS)]
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    record = summarize(passes, float(sf) if sf else None)
    # the parallelism the session actually runs with, so a reader can
    # check that $SPARK_GRAFT_CPUS was honoured
    record["default_parallelism"] = spark.sparkContext.defaultParallelism
    record["shuffle_partitions"] = int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )
    print(json.dumps(record))


if __name__ == "__main__":
    main()
