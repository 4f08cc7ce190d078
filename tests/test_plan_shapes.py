"""Plan-shape gates for dedup and similarity operators (SURVEY.md §5 #5).

These pin the round-3 performance work: candidate generation must stay
bucket-join-shaped (never cartesian), and the only nested-loop join in
the package is ann_topk's deliberate broadcast brute-force baseline.
"""

from __future__ import annotations

import pytest

import mapreduceimplementation_spark as eng

eng.load_all_operators()

#: operators whose plans must never contain a cartesian product
NO_CARTESIAN = [
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_embedding",
    "ann_lsh",
    "ann_ivf",
    "knn_graph",
]


def _plan(spark, sf_dir, name) -> str:
    df = eng.QUERIES[name](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("name", NO_CARTESIAN)
def test_no_cartesian_product(spark, sf_dir, name):
    plan = _plan(spark, sf_dir, name)
    assert "CartesianProduct" not in plan, f"{name}:\n{plan}"


def test_no_cartesian_anywhere(plan_facts):
    """Blanket gate over the WHOLE registered surface: no query's plan may
    contain a CartesianProduct — broadcast nested-loop joins against
    provably-bounded sides (ann_topk's query set, one-row scalar frames)
    are the only sanctioned non-equi joins.  Streaming queries are
    skipped (building their plan executes the stream; their batch twins
    are covered)."""
    offenders = [
        name for name, f in plan_facts.items() if f["plan_counts"]["cartesian"]
    ]
    assert not offenders, f"cartesian products in: {offenders}"


def test_ann_topk_is_broadcast_nested_loop(spark, sf_dir):
    """The brute-force baseline must broadcast the bounded query side —
    a shuffle-based cartesian over the corpus would not scale it."""
    plan = _plan(spark, sf_dir, "ann_topk")
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_minhash_verify_is_broadcast(spark, sf_dir):
    """The candidate set must reach the verify join as a broadcast (it is
    bounded by true-duplicate volume, never corpus-sized)."""
    plan = _plan(spark, sf_dir, "dedup_minhash_lsh")
    assert "BroadcastHashJoin" in plan, plan


def _formatted_plan(spark, sf_dir, name) -> str:
    from tests.conftest import formatted_plan

    return formatted_plan(eng.QUERIES[name](spark, sf_dir))


@pytest.mark.parametrize("name", ["kv_apply_log", "kv_log_compact"])
def test_kv_log_single_exchange(spark, sf_dir, name):
    """The op log is shuffled exactly once on its key: row_number window,
    max-windows and the final aggregation all reuse one hashpartitioning
    (the key is renamed only in the final projection — renaming mid-plan
    used to cost a second full-data exchange)."""
    plan = _formatted_plan(spark, sf_dir, name)
    assert plan.count("Exchange ") == 1, f"{name}:\n{plan}"


def test_inverted_index_single_exchange(spark, sf_dir):
    """Posting lists are deduped by the map-side partial collect_set —
    exactly one hash exchange on word, no separate distinct shuffle.
    (A round-robin spread() exchange may additionally appear on
    single-row-group local files — it is not a key shuffle and never
    fires on real multi-split scans.)"""
    plan = _formatted_plan(spark, sf_dir, "mr_inverted_index")
    assert plan.count("hashpartitioning(word") == 1, plan
    assert plan.count("hashpartitioning(") == 1, plan


def test_knn_graph_pair_expansion_single_bucket_exchange(spark, sf_dir):
    """C21 candidate generation is in-bucket pair expansion: exactly one
    exchange on the (t, code) bucket key feeding the collect_list — a
    bucket self-join formulation would hash-exchange the code relation
    twice."""
    plan = _plan(spark, sf_dir, "knn_graph")
    n_bucket_exchanges = plan.count("hashpartitioning(t#")
    assert n_bucket_exchanges == 1, plan


def test_incident_join_is_equi_not_range(spark, sf_dir):
    """B66's point: the interval-overlap semantics must plan as a
    broadcast EQUI-join on the minute bucket — never the
    BroadcastNestedLoop/cartesian a literal ts-BETWEEN theta-join
    produces."""
    from tests.conftest import formatted_plan

    plan = formatted_plan(eng.QUERIES["events_incident_join"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "BroadcastHashJoin" in plan


def test_no_bare_window_over_unbounded_input(plan_facts):
    """VERDICT r6 item 9, mechanized: a partition-less WindowExec is a
    single-partition sort at scale, so every one in the registered
    surface must consume a provably BOUNDED relation (an aggregate,
    limit, local/checkpointed, or broadcast subtree on every leaf path
    — tools/plan_audit.bare_window_violations).  Today's bare windows
    are all grid-bounded by design; this makes the class
    regression-proof instead of hand-audited."""
    offenders = {
        name: f["bare_window_violations"]
        for name, f in plan_facts.items()
        if f["bare_window_violations"]
    }
    assert not offenders, f"bare windows over unbounded input: {offenders}"


def test_bare_window_gate_catches_a_real_violation(spark, sf_dir):
    """The gate itself must not be vacuous: a global row_number straight
    over the fact scan is exactly the anti-pattern, and must be flagged."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from mapreduceimplementation_spark.sources.tables import load_table
    from tools.plan_audit import bare_window_violations

    ev = load_table(spark, sf_dir, "events")
    bad = ev.withColumn("rn", F.row_number().over(Window.orderBy("ts")))
    assert bare_window_violations(bad)


def test_baseline_class_tags_present(spark):
    """VERDICT r6 item 7: the exact-but-quadratic diagnostics are tagged
    in the REGISTRY (mechanical guard consumed by bench.py /
    tools/scale_stress.py warnings), not just in docstrings."""
    from mapreduceimplementation_spark.registry import BASELINE_CLASS, TAGS, has_tag

    expected = {
        "dedup_ngram_jaccard",
        "ann_topk",
        "dedup_containment",
        "minhash_recall_audit",
        "ivf_recall_audit",
        "embedding_label_recall",  # C82 rides C10's exact top-k ground truth
    }
    tagged = {n for n in TAGS if has_tag(n, BASELINE_CLASS)}
    assert tagged == expected, tagged
    # every tagged query really is registered
    assert tagged <= set(eng.QUERIES)


def test_density_quadratic_tag_and_warning(spark):
    """VERDICT r7 item 2 + r8 item 3: the interval-join transition
    decomposition is quadratic in per-user density — the registry tag,
    the bench/scale mechanical warning (naming the linear twin), and the
    routing API must all exist, AND since r9 the PLAIN key must be the
    linear plan (a registry user who never reads the docs gets the
    scale-safe path; the quadratic variant is an explicit opt-in)."""
    import bench
    from mapreduceimplementation_spark.registry import (
        DENSITY_QUADRATIC,
        LINEAR_TWIN,
        TAGS,
        has_tag,
    )

    tagged = {n for n in TAGS if has_tag(n, DENSITY_QUADRATIC)}
    assert tagged == {
        "streaming_transition_matrix_interval_join",
        # r10 (VERDICT r9 item 4): touch×purchase pair volume ∝ per-user
        # in-lookback activity² — same class, twin-less (the docstring
        # documents the bounded-N restatement instead)
        "events_funnel_attribution",
    }, tagged
    # every tagged query either names a registered linear twin or
    # documents its linear/bounded restatement in the docstring
    for n in tagged:
        twin = LINEAR_TWIN.get(n)
        if twin is not None:
            assert twin in eng.QUERIES
        else:
            assert "Routing rule" in (eng.QUERIES[n].__doc__ or ""), n
    # the warning fires and points at the twin (bench.run_pass and
    # tools/scale_stress.py both emit via this helper)
    ws = bench.tag_warnings("streaming_transition_matrix_interval_join")
    assert any(
        DENSITY_QUADRATIC in w and "twin streaming_transition_matrix" in w
        for w in ws
    ), ws
    # the twin-less tag warns toward the documented linear decomposition
    ws = bench.tag_warnings("events_funnel_attribution")
    assert any(
        DENSITY_QUADRATIC in w and "linear decomposition" in w for w in ws
    ), ws
    # untagged queries stay silent on this class — CRITICALLY including
    # the plain default key (the r9 swap's whole point)
    assert not any(
        DENSITY_QUADRATIC in w for w in bench.tag_warnings("events_minutely")
    )
    assert not any(
        DENSITY_QUADRATIC in w
        for w in bench.tag_warnings("streaming_transition_matrix")
    )
    # the routing rule is an API: low density -> interval join, high ->
    # the linear plain key
    from mapreduceimplementation_spark.streaming.joins import (
        D18_MAX_EVENTS_PER_USER_IN_HORIZON as thresh,
        pick_transition_matrix_impl,
        streaming_transition_matrix,
        streaming_transition_matrix_interval_join,
    )

    assert (
        pick_transition_matrix_impl(1.0)
        is streaming_transition_matrix_interval_join
    )
    assert (
        pick_transition_matrix_impl(thresh + 1)
        is streaming_transition_matrix
    )
    # the plain key's registered callable IS the linear implementation
    assert (
        eng.QUERIES["streaming_transition_matrix"]
        is streaming_transition_matrix
    )
    # and its plan is the custom-state lag, not an interval join: the
    # linear path runs FlatMapGroupsInPandasWithState — pin by source
    import inspect

    src = inspect.getsource(streaming_transition_matrix)
    assert "run_transition_matrix_state" in src


def test_log_mass_linear_tag_and_note(spark):
    """VERDICT r8 item 2: B68 raft_snapshot_audit's ~k x wall at k x log
    inflation is a named cost law (single-exchange prefix replay over
    total per-key log mass x follower fanout), carried as a registry tag
    with a mechanical bench/scale note — so the scale ratio reads as the
    law, not as an untagged regression."""
    import bench
    from mapreduceimplementation_spark.registry import (
        LOG_MASS_LINEAR,
        TAGS,
        has_tag,
    )

    tagged = {n for n in TAGS if has_tag(n, LOG_MASS_LINEAR)}
    assert tagged == {"raft_snapshot_audit"}, tagged
    ws = bench.tag_warnings("raft_snapshot_audit")
    assert any(LOG_MASS_LINEAR in w and "cost law" in w for w in ws), ws
    assert not any(
        LOG_MASS_LINEAR in w for w in bench.tag_warnings("events_minutely")
    )
