"""Scale-stress harness: measure, don't argue.

Deterministically inflates the sf0.1 FACT tables REP x (re-salted unique
ids: new_id = old_id * REP + replica, so orders<->lineitem keys stay
consistent and every id stays unique; dims stay fixed — how real growth
looks), then runs the bench HEADLINE queries at 1x and at REPx in one
warm session and records:

  - per-query wall seconds at both sizes, by bench.py's rule: bench.REPS
    passes per size (sizes alternating), each query's median with its min
    beside it, and the growth ratio of the medians (linear scaling means
    ratio <= ~REP; most queries sit far below because the fixed overheads
    dominate at these sizes),
  - the strategy-level plan fingerprint (tools/plan_audit.plan_counts)
    at both sizes and whether they are EQUAL — the "no broadcast->SMJ
    flip under 10x growth" contract the sf0.001 PLAN_BASELINE cannot
    see (broadcast choices are file-size-driven),
  - the canary factor, so a noisy host window is visible in the record.

Usage: python tools/scale_stress.py [rep] [out_json] [only_query ...]
Writes SCALE_r06.json (default) at the repo root; the inflated dataset
is cached under .scale_data/ and reused across runs.  With only_query
names, the run restricts to that HEADLINE subset (re-measuring the
queries a change touched without paying the full-surface cost).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:] = [REPO] + [p for p in sys.path if p != os.path.join(REPO, "tools")]  # see profile.py

FACTS = ["events", "documents", "embeddings", "lineitem", "orders"]
DIMS = ["region", "nation", "customer", "supplier", "part"]
ID_COLS = {
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
    "lineitem": "l_orderkey",
    "orders": "o_orderkey",
}


def build_inflated(spark, src_dir: str, rep: int, out: str | None = None) -> str:
    from pyspark.sql import functions as F

    out = out or os.path.join(REPO, ".scale_data", f"x{rep}")
    marker = os.path.join(out, "_built.json")
    if os.path.exists(marker):
        # reuse ONLY a cache built from the same source at the same rep —
        # a stale cache from another sf would silently turn the recorded
        # "growth ratios" into a cross-sf comparison
        try:
            with open(marker) as f:
                built = json.load(f)
        except (OSError, ValueError):
            built = {}
        if built.get("src") == src_dir and built.get("rep") == rep:
            return out
        shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    reps = spark.range(rep).select(F.col("id").alias("_rep"))

    def _col(t: str, c: str, idc: str):
        # Exact-replica content would be PATHOLOGICAL, not realistic:
        # 10 identical copies of every embedding collapse into degenerate
        # k-means cells (one cluster holding every replica shell — the
        # in-cluster pair expansion then OOMs by design, since real
        # corpora never put thousands of points at one coordinate), and
        # 10 identical texts would decuple every exact-dup group.  Real
        # growth adds NEW-but-similar content, so replicas are perturbed
        # deterministically: embeddings get a rep-scaled displacement
        # pattern, texts one replica-distinct trailing token.
        if c == idc:
            return (F.col(idc) * rep + F.col("_rep")).alias(idc)
        if t == "embeddings" and c == "embedding":
            return F.transform(
                "embedding",
                lambda x, i: (
                    x + F.col("_rep") * 0.015 * ((i % 3) - 1)
                ).cast("float"),
            ).alias(c)
        if t == "documents" and c == "text":
            return F.when(F.col("_rep") == 0, F.col("text")).otherwise(
                F.concat(
                    F.col("text"),
                    F.lit(" xr"),
                    F.col("_rep").cast("string"),
                )
            ).alias(c)
        if t == "documents" and c == "n_chars":
            return F.when(F.col("_rep") == 0, F.col("n_chars")).otherwise(
                F.col("n_chars")
                + 3
                + F.length(F.col("_rep").cast("string"))
            ).alias(c)
        return F.col(c)

    for t in FACTS:
        df = spark.read.parquet(os.path.join(src_dir, f"{t}.parquet"))
        idc = ID_COLS[t]
        infl = df.crossJoin(F.broadcast(reps)).select(
            *[_col(t, c, idc) for c in df.columns]
        )
        infl.repartition(8).write.mode("overwrite").parquet(
            os.path.join(out, f"{t}.parquet")
        )
    for t in DIMS:
        spark.read.parquet(os.path.join(src_dir, f"{t}.parquet")).write.mode(
            "overwrite"
        ).parquet(os.path.join(out, f"{t}.parquet"))
    with open(marker, "w") as f:
        json.dump({"rep": rep, "src": src_dir, "ts": time.time()}, f)
    return out


def main() -> None:
    rep = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    out_path = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
        REPO, "SCALE_r06.json"
    )
    only = set(sys.argv[3:])
    src = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import bench
    import __spark_entry__ as entrymod
    from mapreduceimplementation_spark.session import get_spark
    from tools.plan_audit import plan_counts

    spark = get_spark("mri-scale-stress")
    qs = entrymod.queries()
    if only:
        unknown = only - set(qs)
        assert not unknown, f"unknown only_query names: {sorted(unknown)}"
        qs = {k: v for k, v in qs.items() if k in only}
    big = build_inflated(spark, src, rep)

    # both datasets' tables + the streaming machinery, outside timing
    bench.warm_up(spark, src, big)

    # bench.REPS passes per size, sizes alternating; bench.py's rule
    passes1, passesN = [], []
    for _ in range(bench.REPS):
        passes1.append(bench.run_pass(spark, qs, src))
        passesN.append(bench.run_pass(spark, qs, big))
    t1, tN = bench.median_min(passes1), bench.median_min(passesN)

    plans_equal, plan_diffs = {}, {}
    for name in bench.HEADLINE:
        if name not in qs or name.startswith("streaming_"):
            continue
        p1 = plan_counts(qs[name](spark, src))
        pN = plan_counts(qs[name](spark, big))
        plans_equal[name] = p1 == pN
        if p1 != pN:
            plan_diffs[name] = {k: (p1[k], pN[k]) for k in p1 if p1[k] != pN[k]}

    # sampled-mode rows for the quadratic diagnostics (VERDICT r9 item
    # 5): every headline query exposing the documented sample_mod escape
    # is ALSO timed in sampled mode at both sizes, so the artifact shows
    # the production-path growth beside the unsampled honest-cost row
    # (pair survival is ~1/k² of the slice, so the sampled ratio reads
    # the PLAN's scaling with the output-quadratic term suppressed)
    import inspect

    sample_k = 4
    sampled = {}
    for name in bench.HEADLINE:
        if name not in qs or "sample_mod" not in inspect.signature(qs[name]).parameters:
            continue
        walls = {}
        for label, d in (("t1", src), (f"t{rep}", big)):
            t0 = time.time()
            bench.force(qs[name](spark, d, sample_mod=sample_k))
            walls[label] = round(time.time() - t0, 3)
        sampled[name] = {
            "sample_mod": sample_k,
            **walls,
            "ratio": round(walls[f"t{rep}"] / walls["t1"], 2),
        }

    # the canary factor by bench.py's rule (None unless src is sf0.1)
    sf = 0.1 if os.path.basename(src.rstrip("/")) == "sf0.1" else None
    factor = bench.summarize(passes1, sf)["host_factor_vs_quiet_canary"]
    ratios = {n: round(tN[n]["median"] / t1[n]["median"], 2) for n in sorted(t1)}
    record = {
        "metric": "scale_stress",
        "rep": rep,
        "src": src,
        "queries": {
            name: {"t1": t1[name], f"t{rep}": tN[name], "ratio": ratio}
            for name, ratio in ratios.items()
        },
        "max_ratio": max(ratios.values()),
        "sampled_queries": sampled,
        "plans_equal_at_scale": plans_equal,
        "plan_diffs": plan_diffs,
        "host_factor_vs_quiet_canary": factor,
    }
    with open(out_path, "w") as f:
        json.dump(record, f, indent=2)
    print(json.dumps({k: record[k] for k in
                      ["metric", "rep", "max_ratio", "plan_diffs",
                       "host_factor_vs_quiet_canary"]}))
    print(f"wrote {out_path}", file=sys.stderr)


if __name__ == "__main__":
    main()
