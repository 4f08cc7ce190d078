"""Query/oracle registry.

Each operator registers a (spark, sf_dir) -> DataFrame callable plus an
optional DuckDB-runnable ANSI SQL oracle string.  The driver contract in
``__spark_entry__.py`` is a thin view over these dicts.  ``register``
applies ``session.tune`` on entry to every callable, so no query sets
up its own session confs.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from typing import Any

from mapreduceimplementation_spark.session import tune

QUERIES: dict[str, Callable[..., Any]] = {}
ORACLES: dict[str, str] = {}
TAGS: dict[str, frozenset[str]] = {}

#: tag for exact-but-quadratic diagnostics (C6 posting-list Jaccard, C10
#: brute-force ANN, C35 containment, and the recall audits whose ground
#: truth embeds those shapes).  They exist as correctness baselines for the
#: scale-safe paths (C7/C52, C11b/C62) — at 100 TB run them on a SAMPLE.
#: bench.py and tools/scale_stress.py warn when one runs unsampled, so the
#: guard is mechanical, not a docstring.
BASELINE_CLASS = "baseline_class"

#: tag for plans whose intermediate volume grows QUADRATICALLY in per-key
#: density (e.g. D18 streaming_transition_matrix_interval_join: the
#: interval-self-join candidate set is ∝ per-user in-horizon events²; B75
#: events_funnel_attribution: touch×purchase pair volume ∝ per-user
#: in-lookback activity² — VERDICT r9 item 4).  Distinct from
#: BASELINE_CLASS (quadratic in duplicate/output mass by design): a
#: density-quadratic plan is correct and fine at low density but becomes
#: a scale-killer on hot keys — each carries either a registered LINEAR
#: twin (LINEAR_TWIN) with a routing rule, or a docstring-documented
#: linear/bounded restatement to route to on high-density data.  bench.py
#: and tools/scale_stress.py (via bench.run_pass) warn when one runs, so
#: the guard is mechanical, not a docstring.
DENSITY_QUADRATIC = "density_quadratic"

#: tag naming the cost law of single-exchange replay audits (VERDICT r8
#: item 2, B68 raft_snapshot_audit): wall tracks TOTAL per-key log mass x
#: audit fanout.  The plan is one exchange + row-local sorted-array
#: prefix replay — there is no fixed-overhead floor to hide behind, so
#: inflating every key's log k-fold measures ~k x wall BY DESIGN (the
#: honest cost of replaying k x more log), unlike scan/agg queries whose
#: 10x ratios sit at 1-3x because scheduling dominates.  Distinct from
#: DENSITY_QUADRATIC (superlinear in a density parameter — a hazard) and
#: BASELINE_CLASS (quadratic diagnostics): this class is LINEAR and
#: scale-safe; the tag exists so a near-k x scale ratio reads as the law,
#: not as a regression to chase.
LOG_MASS_LINEAR = "log_mass_linear"

#: linear twin per DENSITY_QUADRATIC query — the plan to route to when
#: expected per-key in-horizon density exceeds the operator's documented
#: threshold; consumed by the warning text and the routing APIs.  Since
#: r9 the plain streaming_transition_matrix key IS the linear plan and
#: the quadratic decomposition is the explicitly-named opt-in variant
#: (VERDICT r8 item 3).
LINEAR_TWIN: dict[str, str] = {
    "streaming_transition_matrix_interval_join": "streaming_transition_matrix",
}


def register(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Decorator: register a query callable, its optional SQL oracle, and
    optional registry tags (e.g. BASELINE_CLASS).  The registered (and
    returned) callable tunes the session before running ``fn``."""

    def deco(fn):
        if name in QUERIES:
            raise ValueError(f"duplicate query registration: {name}")

        @functools.wraps(fn)
        def query(spark, *args, **kwargs):
            tune(spark)
            return fn(spark, *args, **kwargs)

        QUERIES[name] = query
        if oracle is not None:
            ORACLES[name] = oracle.strip()
        if tags:
            TAGS[name] = frozenset(tags)
        return query

    return deco


def has_tag(name: str, tag: str) -> bool:
    return tag in TAGS.get(name, frozenset())
