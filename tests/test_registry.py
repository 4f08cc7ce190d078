"""Registry gate: every operator SURVEY.md §2 marks done must be registered
in QUERIES and (unless listed rows-only) in ORACLES.  This test exists
because round 1 shipped four finished operators as dead code, and round 2's
version derived its expectation from what was implemented — certifying a
shrunken surface.  INVENTORY below is the FULL SURVEY §2 inventory (minus
A7, a declared test-only deliverable); a SURVEY row may only say "done"
while its key is here AND the driver's CORRECTNESS gate is green.
"""

from __future__ import annotations

import mapreduceimplementation_spark as eng

eng.load_all_operators()

# The complete SURVEY.md §2 inventory. A7 (mr_jobcount_semantics) is
# test-only by design: tests/test_mrcore.py::test_determinism_under_repartition.
INVENTORY = [
    # A. MapReduce core
    "mr_wordcount",          # A1
    "mr_inverted_index",     # A2
    "mr_grep",               # A3
    "mr_file_lengths",       # A4
    "mr_distributed_sort",   # A5
    "mr_generic_wc",         # A6
    "mr_wordcount_text",     # A8: wholetext-file ingestion parity
    # B. Relational analytics
    "q1_pricing_summary",    # B1
    "q3_shipping_priority",  # B2
    "q5_region_revenue",     # B3
    "top_customers_per_nation",  # B4
    "part_type_share",       # B5
    "order_priority_count",  # B6
    "events_minutely",       # B7
    "events_sessionize",     # B8
    "events_json_props",     # B9
    "events_asof_join",      # B13: as-of join (window-merge formulation)
    "events_minutely_json",  # B14: JSON-lines ingestion parity for B7
    "events_value_percentiles",  # B17: exact grouped p50/p90/p99
    "events_running_total",  # B18: exact-decimal cumulative window
    "events_type_pivot",     # B19: wide-format pivot w/ explicit values
    "events_rollup",         # B20: hierarchical ROLLUP totals in one pass
    "events_minutely_csv",   # B21: CSV ingestion parity for B7
    "events_moving_avg",     # B22: bounded-frame moving average
    "events_funnel",         # B23: ordered view->click->purchase funnel
    "events_retention",      # B24: first-active-day cohort retention
    "basket_pairs",          # B25: market-basket co-occurrence top pairs
    "basket_rules",          # B50: support/confidence/lift association rules
    "events_anomaly",        # B26: integer-exact daily z-score anomalies
    "q18_large_orders",      # B27: TPC-H Q18 HAVING-subquery join
    "q7_volume_shipping",    # B32: bilateral nation trade by year
    "q10_returned_items",    # B33: returned-revenue top-20 report
    "q22_missed_opportunities",  # B34: scalar-subquery + anti-join
    "q14_promo_revenue",     # B35: fact-side promo revenue share
    "events_value_histogram",  # B36: fixed-bin mergeable histogram
    "q6_forecast_revenue",   # B37: pure scan-agg pushdown exhibit
    "q13_customer_distribution",  # B38: outer-join ON-filter distribution
    "q15_top_supplier",      # B39: aggregate-equals-own-max view
    "q17_small_quantity",    # B40: windowed decorrelated scalar subquery
    "q19_discounted_revenue",  # B41: OR-of-ANDs disjunctive-hull pushdown
    "q8_market_share",       # B42: 7-table star join conditional share
    "q9_product_profit",     # B43: dim-side LIKE product profit (adapted)
    "events_minutely_gapfill",  # B44: declared-window zero-filled spine
    "events_daily_users",    # B45: exact DAU count-distinct exhibit
    "events_trailing_window",  # B46: time-RANGE sliding frame (velocity)
    "customer_balance_deciles",  # B47: distributed-rank NTILE banding
    "events_exact_median",   # B48: exact global median via distributed rank
    "events_median_by_type", # B49: grouped exact median (secondary sort)
    "events_minutely_incremental",  # B28: base+delta rollup merge == full
    "events_minutely_orc",   # B31: ORC ingestion parity for B7
    "kv_apply_log",          # B10
    "shard_rebalance",       # B11
    "shard_rebalance_hrw",   # B12: minimal-movement Join/Leave rebalance
    "raft_committed_prefix", # B15: Raft majority commit rule over shard logs
    "kv_log_compact",        # B16: kvraft lab-3B snapshot/log compaction
    "config_log_replay",     # B29: shardctrler config history + Query(num)
    "shardkv_migration_diff",  # B30: lab-4B cross-config shard migration
    # C. LLM-data-pipeline
    "dedup_exact",           # C1
    "token_count",           # C2
    "quality_score",         # C3
    "lang_id",               # C4
    "doc_fingerprint",       # C5
    "dedup_ngram_jaccard",   # C6
    "dedup_minhash_lsh",     # C7
    "dedup_simhash",         # C8
    "dedup_embedding",       # C9
    "ann_topk",              # C10
    "ann_lsh",               # C11
    "ann_ivf",               # C11b: inverted-file ANN variant
    "multimodal_meta",       # C12
    "embed_normalize",       # C13
    "corpus_prep",           # C14: composite filter→dedup→count pipeline
    "kmeans_embed",          # C15: iterative integer-quantized Lloyd's
    "corpus_split",          # C16: deterministic hash train/val/test split
    "tfidf_top_terms",       # C17: TF-IDF top-k terms per document
    "dedup_clusters",        # C18: near-dup pairs -> connected components
    "top_terms_per_source",  # C19: MapReduce-paper term-vector per host
    "corpus_sample_stratified",  # C20: per-language deterministic sampling
    "knn_graph",             # C21: LSH-blocked corpus kNN graph
    "multimodal_framesample",  # C22: 1:N frame sampling + thumbnail stub
    "source_mix_weights",    # C23: temperature-based source mixing weights
    "pagerank_knn",          # C24: integer-exact PageRank over the kNN graph
    "heavy_hitters_cms",     # C25: deterministic count-min sketch top-k
    "pca_power_iter",        # C26: integer-exact power-iteration PCA
    "corpus_decontaminate",  # C27: benchmark n-gram contamination check
    "quality_lm_score",      # C28: char-trigram LM perplexity proxy
    "corpus_pack_sequences", # C29: concat-and-chunk sequence packing
    "quality_repetition",    # C31: Gopher-style repetition filters
    "dedup_semantic",        # C32: SemDeDup within-cluster near-dups
    "bloom_membership",      # C33: portable Bloom-filter blocklist probe
    "feature_hash_vectors",  # C34: hashing-trick doc count vectors
    "ann_ivf_kmeans",        # C30: IVF over k-means-trained cells
    "dedup_containment",     # C35: shingle containment subset-dup pairs
    "embedding_outliers",    # C36: distance-to-label-centroid z-scores
    "corpus_zipf_slope",     # C37: rank-frequency power-law fit
    "corpus_ngram_lm_counts",  # C38: count-pruned n-gram LM table
    "knn_triangles",         # C39: degree-oriented triangle count + clustering
    # D. Structured Streaming
    "streaming_windowed_counts",  # D1
    "streaming_sessionize",       # D2
    "streaming_dedup",            # D3: watermark-evicted dropDuplicates
    "streaming_stream_join",      # D4: watermarked stream-stream interval join
    "streaming_windowed_counts_json",  # D5: D1 over a JSON-lines file stream
    "streaming_incremental_rollup",  # D7: update-mode foreachBatch upsert MV
    "streaming_enriched_counts",  # D8: stream-static enrichment join
    "streaming_sessionize_native",  # D6: built-in session_window twin of D2
    "streaming_value_histogram",  # D9: multi-microbatch fixed-bin histogram
    # round-5 additions
    "join_skewed_salted",    # B58: salted hot-key join, plain-join oracle
    "kv_linearizability_audit",  # B51: porcupine/KvModel per-key audit
    "kv_append_linearizability",  # B62: KvModel FULL op set (Put/Append/Get)
    "raft_election_safety",  # B63: checkOneLeader trace audit
    "raft_log_matching",     # B64: checkLogs / apply-order trace audit
    "raft_leader_completeness",  # B67: §5.4.3 committed-entry presence audit
    "streaming_full_outer_join",  # D12: both-buffers NULL eviction
    "streaming_hll_users",   # D13: mergeable-register streaming cardinality
    "corpus_sample_weighted",  # C50: deterministic A-ES weighted k-sample
    "events_hll_merge_audit",  # C51: per-day sketch rollup == direct sketch
    "dedup_prefix_filter",   # C52: AllPairs prefix-filtered exact Jaccard
    "ivf_recall_audit",      # C53: IVF nprobe recall vs exact top-k
    "corpus_readability",    # C54: Flesch / FK-grade fixed-point screen
    "dedup_substring_spans",  # C55: maximal duplicated-token spans (Lee et al.)
    "streaming_quantile_sketch",  # D14: mergeable histogram cells on a stream
    "bm25_topk",             # C56: BM25 query-by-example retrieval
    "dedup_incremental",     # C57: batch-vs-index LSH dedup, no re-pairing
    "winnowing_fingerprint", # C58: MOSS winnowing positional fingerprint
    "corpus_entropy",        # C59: char-class entropy quality screen
    "embedding_pq",          # C60: product quantization codes + recon error
    "hybrid_search_rrf",     # C61: BM25 + cosine reciprocal-rank fusion
    "ann_ivfpq",             # C62: IVF cell pruning + PQ asymmetric distance
    "streaming_asof_join",   # D16: chained interval-join -> windowed argmax
    "events_scd2_dimension", # B69: SCD2 validity intervals from a change log
    "streaming_cms_topk",    # D15: count-min cells on a stream
    "raft_snapshot_audit",   # B68: InstallSnapshot state-consistency audit
    "events_hll_users",      # C49: deterministic HLL-256 cardinality audit
    "events_quantile_sketch",  # B65: fixed-bin histogram quantiles vs exact
    "events_incident_join",  # B66: interval-overlap join as bucketed equi-join
    "lock_grant_audit",      # B59: serial lock-service spec replay
    "view_change_audit",     # B60: viewservice succession-rule audit
    "q2_min_cost_supplier",  # B52: TPC-H Q2 (synthesized partsupp)
    "q11_important_stock",   # B53: TPC-H Q11
    "q16_parts_supplier_relationship",  # B54: TPC-H Q16
    "q20_potential_promotion",  # B55: TPC-H Q20
    "q12_shipping_modes",    # B56: TPC-H Q12 (synthesized line dates)
    "q21_waiting_suppliers",  # B57: TPC-H Q21
    "q4_order_priority",     # B61: TPC-H Q4 — closes all 22 shapes
    "dedup_paragraphs",      # C40: MassiveText paragraph dedup + reassembly
    "corpus_chunk_overlap",  # C41: sliding-window RAG chunking
    "sample_uniform_k",      # C42: deterministic reservoir k-sample
    "pii_scrub",             # C43: PII detection + redaction accounting
    "ngram_duplication",     # C44: cross-corpus duplicated-5-gram fraction
    "boilerplate_source_matrix",  # C45: source-pair shared-chunk matrix
    "bpe_pair_counts",       # C46: BPE merge-step pair counting
    "embedding_quantize",    # C47: int8 scalar quantization (SQ8)
    "minhash_recall_audit",  # C48: LSH banding recall vs exact ground truth
    "streaming_left_outer_join",  # D10: watermark-forced NULL emission
    "streaming_topk",        # D11: per-window top-k leaderboard
    "kv_client_dedup",       # B70: at-most-once duplicate-request audit
    "table_merge_upsert",    # B71: MERGE INTO (SCD1 upsert+delete) semantics
    "table_snapshot_diff",   # B72: rolling-snapshot reconciliation diff
    "events_audience_overlap",  # B73: trailing-week overlap/Jaccard matrix
    "events_transition_matrix",  # B74: Markov transition estimate
    "quality_gopher_rules",  # C63: Gopher §A1.1 per-rule filter matrix
    "dsir_importance",       # C64: DSIR hashed-n-gram importance weights
    "quality_c4_rules",      # C65: C4 §2.2 line+page cleaning heuristics
    "embedding_hard_negatives",  # C66: FaceNet/ANCE triplet mining
    "embedding_matryoshka_eval",  # C67: MRL truncated-dim recall audit
    "events_funnel_attribution",  # B75: U-shaped multi-touch attribution
    "corpus_semantic_decontaminate",  # C68: embedding-space eval decon
    "events_ab_test_metrics",  # B76: hash-bucketed experiment readout
    "events_session_paths",  # B77: top session paths (sequence mining)
    "tokenizer_fertility",   # C69: per-lang tokenizer efficiency rollup
    "streaming_ab_test_metrics",  # D17: live experiment monitor (B76 twin)
    "quality_ccnet_buckets",  # C70: CCNet head/middle/tail tercile split
    # round 7
    "quality_classifier",    # C71: trained fixed-point logistic quality filter
    "bpe_train",             # C72: full BPE merge-training loop
    "corpus_e2e_pipeline",   # C73: composed screens->dedup->decon->mix->pack
    "shardkv_gc_audit",      # B78: shard-GC custody audit (Challenge1Delete)
    "raft_persistence_audit",  # B79: crash-restart persistence audit
    "streaming_transition_matrix_interval_join",  # D18: B74 on a live stream (3 stateful ops; r9: explicit opt-in key)
    "bpe_tokenize",          # C74: apply the C72-trained tokenizer corpus-wide
    "quality_classifier_eval",  # C75: held-out confusion-matrix eval of C71
    "streaming_transition_matrix",  # D19: linear custom-state lag (r9: the plain default key)
    "shardkv_availability_audit",  # B80: Challenge-2 migration availability
    "streaming_funnel",      # D20: B23's ordered funnel as custom state
    "streaming_retention",   # D21: B24's cohort retention, O(1) user state
    "dedup_priority",        # C76: cross-source priority dedup (trusted copy)
    "corpus_shuffle_shards",  # C77: deterministic training-shard shuffle
    "phrase_search",         # C78: positional-postings exact phrase match
    "source_kl_divergence",  # C79: per-source domain-shift KL profile
    "kv_session_guarantees",  # B81: RYW + monotonic-reads session audit
    "table_compaction_plan",  # B82: small-file compaction bin-packing
    "streaming_scd2",        # D22: B69's SCD2 as changelog + compaction
    "streaming_anomaly",     # D23: B26 over stream-maintained daily cells
    "events_ewma_daily",     # B83: exact dyadic EWMA smoothing + spikes
    "streaming_ewma",        # D24: B83 as O(K) per-type custom state
    "multimodal_phash_dedup",  # C80: pHash-bucket dedup over binary media
    "minhash_bbit_audit",    # C81: b-bit minwise compression audit
    "streaming_session_paths",  # D25: B77's flow report as open-session state
    "embedding_label_recall",  # C82: precision@k label-agreement eval
    "events_forecast_backtest",  # B84: rolling-origin eval of B83 (MAE vs naive)
    # round 8
    "lock_linearizability",  # B85: generic porcupine-style engine, lock model
    "ctrl_linearizability",  # B86: the engine's third model (config epochs)
]

#: SURVEY rows not yet implemented — MUST shrink to empty; a key may not
#: appear both here and be marked "done" in SURVEY §2.
TODO: frozenset[str] = frozenset()

#: registered queries that intentionally have no SQL oracle (rows-only
#: driver gate).  Currently empty: every operator, including both
#: streaming ops, carries a full DuckDB oracle.
ROWS_ONLY: frozenset[str] = frozenset()


def test_inventory_registered():
    missing = [k for k in INVENTORY if k not in TODO and k not in eng.QUERIES]
    assert not missing, f"SURVEY-inventoried operators missing from QUERIES: {missing}"


def test_inventory_has_oracles():
    missing = [
        k
        for k in INVENTORY
        if k not in TODO and k not in ROWS_ONLY and k not in eng.ORACLES
    ]
    assert not missing, f"operators without a DuckDB oracle: {missing}"


def test_no_unknown_registrations():
    """Every registered query must be accounted for in the inventory —
    catches queries that exist but were never added to SURVEY §2."""
    unknown = [k for k in eng.QUERIES if k not in INVENTORY]
    assert not unknown, f"registered queries missing from INVENTORY/SURVEY: {unknown}"


def test_no_unknown_rows_only():
    assert ROWS_ONLY <= set(eng.QUERIES)


def test_todo_is_empty():
    """Round-3 state: the full SURVEY surface is implemented.  If a future
    round adds SURVEY rows before code, they go in TODO and this test is
    updated deliberately — no silent shrinkage."""
    assert TODO == frozenset()


def test_certification_rotation():
    """The driver's correctness gate only records the first ~50 entries of
    queries() (see BASELINE.md).  The entry-file rotation must (a) expose
    the FULL registry — nothing dropped, (b) order never-driver-certified
    queries first, then the plain oldest-certification-first round-robin
    — so a new operator cannot hide outside the driver's window."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    assert set(qs) == set(eng.QUERIES)
    assert list(entrymod.oracle_sql()) == [k for k in qs if k in eng.ORACLES]

    last = entrymod._last_certified_round()
    keys = [last.get(n, -1) for n in qs]
    assert keys == sorted(keys), "queries() not in rotation-policy order"


def test_rotation_policy_pure_order():
    """The pure _order policy, pinned on synthetic inputs: never-certified
    first, then oldest certification first, stable within ties."""
    import __spark_entry__ as entrymod

    names = ["a", "b", "c", "d", "e", "f"]
    last = {"a": 5, "b": 3, "c": 7, "d": 3, "f": 1}
    got = entrymod._order(names, last)
    assert got == ["e", "f", "b", "d", "a", "c"]


WINDOW = 50


def _rounds_to_certify(order, names, last, rounds):
    """Simulate the driver: each round certifies the first WINDOW entries
    of ``order(names, last)``.  Returns, per name, the simulated rounds
    in which it certified."""
    last = dict(last)
    start = max(last.values(), default=0)
    certified = {n: [] for n in names}
    for r in range(1, rounds + 1):
        for n in order(names, last)[:WINDOW]:
            last[n] = start + r
            certified[n].append(r)
    return certified


def _starved(certified, allowed):
    """Names whose first certification, or any gap between two, exceeds
    ``allowed`` rounds."""
    out = {}
    for n, rs in certified.items():
        gaps = [b - a for a, b in zip([0, *rs], rs)]
        if not rs or max(gaps) > allowed:
            out[n] = rs
    return out


def test_rotation_never_starves():
    """With a ~50-slot driver window over N registered queries, the
    rotation certifies every query within ceil(N / 50) rounds, and again
    within ceil(N / 50) rounds of each certification — simulated from the
    committed CORRECTNESS history and from an all-never-certified start.
    A newly registered query lands in the very next window."""
    import math

    import __spark_entry__ as entrymod

    names = list(eng.QUERIES)
    allowed = math.ceil(len(names) / WINDOW)
    history = entrymod._last_certified_round()
    assert history, "no committed CORRECTNESS files — gate broken"
    for start in (history, {}):
        certified = _rounds_to_certify(entrymod._order, names, start, 3 * allowed)
        starved = _starved(certified, allowed)
        assert not starved, f"starved beyond ceil(N/50)={allowed}: {starved}"
    # the simulation can see starvation: newest-first re-certifies the
    # same window forever
    def newest_first(ns, last):
        return sorted(ns, key=lambda n: -last.get(n, -1))

    assert _starved(
        _rounds_to_certify(newest_first, names, history, 3 * allowed), allowed
    )
    # a new operator certifies on its first round, never queues behind one
    assert "new_query" in entrymod._order([*names, "new_query"], history)[:WINDOW]


def test_bench_coverage_note_maps_every_untimed_query():
    """VERDICT r6 item 8's contract: every registered query is either in
    bench.py's HEADLINE or named in BENCH_COVERAGE.md's family map — the
    note can never silently under-cover the registry."""
    import os

    import bench
    import mapreduceimplementation_spark as eng

    eng.load_all_operators()
    note = open(
        os.path.join(os.path.dirname(os.path.dirname(__file__)), "BENCH_COVERAGE.md")
    ).read()
    unregistered = [n for n in bench.HEADLINE if n not in eng.QUERIES]
    assert not unregistered, unregistered
    unmapped = [
        n
        for n in sorted(set(eng.QUERIES) - set(bench.HEADLINE))
        if n not in note
    ]
    assert not unmapped, f"untimed queries missing from BENCH_COVERAGE.md: {unmapped}"
