"""Whole-surface determinism gate (SURVEY.md §5 #3).

The Spark analog of the reference's jobcount/crash tests: visible output
must not depend on task layout.  Every registered query runs twice with
DIFFERENT shuffle-partition counts — different exchanges, different task
boundaries, different aggregation-buffer merge orders — and the row sets
must be identical.  This is what "bit-stable under any partitioning"
means operationally at 1000 executors: floats rounded at final
projections, order-insensitive aggregates, deterministic tie-breaks.

Streaming queries are included: availableNow runs drain the same input,
and their sinks are reconciled/arrival-order-independent by design.
"""

from __future__ import annotations

import math

import pytest

import mapreduceimplementation_spark as eng

eng.load_all_operators()


def _canon(v):
    if isinstance(v, float):
        # final projections round business floats; canonicalize residual
        # representation noise only (not semantic differences)
        return round(v, 9) if math.isfinite(v) else repr(v)
    if isinstance(v, list):
        return tuple(_canon(x) for x in v)
    return v


def _rows(df):
    return sorted(
        (tuple(_canon(v) for v in row) for row in df.collect()), key=repr
    )


@pytest.mark.parametrize("name", sorted(eng.QUERIES))
def test_output_independent_of_shuffle_partitioning(
    spark, sf_dir, name, monkeypatch
):
    from mapreduceimplementation_spark import session

    # register applies tune() on entry to every query, and tune applies
    # _RUNTIME_CONF — patching the dict varies the partitioning through
    # the query's own config path (tune would overwrite a bare
    # spark.conf.set)
    key = "spark.sql.shuffle.partitions"
    monkeypatch.setitem(session._RUNTIME_CONF, key, "8")
    a = _rows(eng.QUERIES[name](spark, sf_dir))
    assert spark.conf.get(key) == "8"
    monkeypatch.setitem(session._RUNTIME_CONF, key, "3")
    b = _rows(eng.QUERIES[name](spark, sf_dir))
    assert spark.conf.get(key) == "3"
    assert a == b, f"{name}: output depends on shuffle partitioning"
    assert len(a) > 0, f"{name}: empty result"


_AQE_SAMPLE = [
    # AQE's decisions (runtime broadcast conversion, partition coalescing,
    # skew-join splitting) reshape exactly these plan families: multi-join
    # (q3, q8), aggregated-then-joined (q15), LSH bucket joins (minhash,
    # knn), a window plan (trailing), and a checkpointed iterative chain
    # (kmeans).
    "q3_shipping_priority",
    "q8_market_share",
    "q15_top_supplier",
    "dedup_minhash_lsh",
    "knn_graph",
    "events_trailing_window",
    "kmeans_embed",
]


@pytest.mark.parametrize("name", _AQE_SAMPLE)
def test_output_independent_of_aqe(spark, sf_dir, name, monkeypatch):
    """A second layout-independence axis: adaptive execution ON vs OFF
    changes join strategies, partition counts, and stage boundaries at
    runtime — the visible rows must not move.  (The partitioning gate
    above varies the static layout; this varies the runtime re-planner.)"""
    from mapreduceimplementation_spark import session

    key = "spark.sql.adaptive.enabled"
    monkeypatch.setitem(session._RUNTIME_CONF, key, "true")
    a = _rows(eng.QUERIES[name](spark, sf_dir))
    monkeypatch.setitem(session._RUNTIME_CONF, key, "false")
    b = _rows(eng.QUERIES[name](spark, sf_dir))
    assert spark.conf.get(key) == "false"
    assert a == b, f"{name}: output depends on AQE"
    assert len(a) > 0
