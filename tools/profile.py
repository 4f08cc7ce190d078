"""Profile registered queries the way bench.py times them.

  SPARK_GRAFT_SF_DIR=<sf dir, default sf0.1> python tools/profile.py [--plans DIR] [query ...]

After bench.warm_up and one untimed run, each query (default: all) runs
bench.REPS times.  Printed per query: ``build_s`` (the callable) and
``action_s`` (bench.force), each a median with the min beside it; the
median jobs per phase by job group: ``<query>/build``, ``<query>/action``,
and for streams the run id from onQueryStarted (a stream's microbatch jobs
carry it as their group); each timed microbatch's durationMs and state
operators.  ``--plans DIR`` writes DIR/<query>.txt, explain("formatted")
of each query that starts no stream.
"""

from __future__ import annotations

import argparse
import contextlib
import os
import sys
import time
import uuid

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# REPO first, tools/ off sys.path: this file would shadow the standard
# library's ``profile``, which cProfile (imported by pyspark) loads
sys.path[:] = [REPO] + [p for p in sys.path if p != os.path.join(REPO, "tools")]

import bench  # noqa: E402
from pyspark.sql.streaming import StreamingQueryListener  # noqa: E402
from tools.plan_audit import explain  # noqa: E402


@contextlib.contextmanager
def job_group(sc, group: str):
    outer = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", outer)


def poll(done, timeout_s: float) -> bool:
    deadline = time.time() + timeout_s
    while not done() and time.time() < deadline:
        time.sleep(0.01)
    return bool(done())


def settle(spark) -> None:
    """Wait until the status tracker (fed by the asynchronous listener bus)
    has seen every job so far: once a sentinel job in its own group shows,
    every earlier job is in.  JVM-only: an RDD job starts a Python worker."""
    sc = spark.sparkContext
    sentinel = f"sentinel-{uuid.uuid4().hex}"
    with job_group(sc, sentinel):
        spark.range(1).collect()
    if not poll(lambda: sc.statusTracker().getJobIdsForGroup(sentinel), 10.0):
        raise TimeoutError("the sentinel job never reached the status tracker")


def jobs_in_group(spark, build) -> int:
    """Spark jobs run in this thread's job group while ``build()`` runs
    (a stream's microbatch jobs carry its run id instead)."""
    sc = spark.sparkContext
    group = f"jobcount-{uuid.uuid4().hex}"
    with job_group(sc, group):
        build()
    settle(spark)
    return len(sc.statusTracker().getJobIdsForGroup(group))


class Streams(StreamingQueryListener):
    """Stream run ids in start order (onQueryStarted runs inside
    writeStream.start()), their microbatches, and the runs that ended
    (progress and termination arrive later, on an asynchronous bus)."""

    def __init__(self):
        self.started: list[str] = []
        self.ended: set[str] = set()
        self.batches: dict[str, list[dict]] = {}

    def onQueryStarted(self, e):
        self.started.append(str(e.runId))

    def onQueryProgress(self, e):
        p = e.progress
        self.batches.setdefault(str(p.runId), []).append({
            "batchId": p.batchId,
            "numInputRows": p.numInputRows,
            "durationMs": dict(p.durationMs),
            "stateOperators": [
                (s.operatorName, s.commitTimeMs, s.numRowsTotal, s.numShufflePartitions)
                for s in p.stateOperators
            ],
        })

    def onQueryTerminated(self, e):
        self.ended.add(str(e.runId))


def profile(spark, sf_dir: str, queries: dict, plans: str | None = None):
    """Yield one record per ``queries`` item ({name: callable}): build_s
    and action_s as bench.median_min over bench.REPS timed reps, the median
    jobs per phase, and each timed rep's microbatches."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    streams = Streams()
    spark.streams.addListener(streams)
    try:
        for name, fn in queries.items():
            groups = {p: f"{name}/{p}" for p in ("build", "action")}
            times, jobs, batches = [], [], []
            for _ in range(bench.REPS + 1):
                seen = {p: set(tracker.getJobIdsForGroup(g)) for p, g in groups.items()}
                n_started = len(streams.started)
                t0 = time.time()
                with job_group(sc, groups["build"]):
                    df = fn(spark, sf_dir)
                t1 = time.time()
                with job_group(sc, groups["action"]):
                    bench.force(df)
                times.append({"build_s": t1 - t0, "action_s": time.time() - t1})
                runs = streams.started[n_started:]
                if not poll(lambda: set(runs) <= streams.ended, 30.0):
                    print(f"# {name}: a stream never reported its end", file=sys.stderr)
                settle(spark)
                jobs.append({p: len(set(tracker.getJobIdsForGroup(g)) - seen[p])
                             for p, g in groups.items()})
                jobs[-1]["stream"] = sum(len(tracker.getJobIdsForGroup(r)) for r in runs)
                batches.append([b for r in runs for b in streams.batches.get(r, [])])
                if plans and len(times) == 1 and not runs:
                    with open(os.path.join(plans, f"{name}.txt"), "w") as fh:
                        fh.write(explain(df))
            yield {
                "query": name,
                **bench.median_min(times[1:]),
                "jobs": {p: m["median"] for p, m in bench.median_min(jobs[1:]).items()},
                "batches": batches[1:],
            }
    finally:
        spark.streams.removeListener(streams)


def report(rec: dict) -> str:
    lines = [
        f"## {rec['query']}: "
        + "  ".join(f"{k} {rec[k]['median']:.3f}s (min {rec[k]['min']:.3f}s)"
                    for k in ("build_s", "action_s"))
        + "  jobs " + " ".join(f"{p}={n:g}" for p, n in rec["jobs"].items())
    ]
    for i, batches in enumerate(rec["batches"], 1):
        for b in batches:
            lines.append(
                f"  rep {i} batch {b['batchId']}: rows={b['numInputRows']} "
                + " ".join(f"{k}={v}ms" for k, v in sorted(b["durationMs"].items()))
                + "".join(f" | {op}: commit={c}ms rows={n} parts={p}"
                          for op, c, n, p in b["stateOperators"])
            )
    return "\n".join(lines)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("names", nargs="*", help="registered queries (default: all)")
    ap.add_argument("--plans", metavar="DIR", help="write batch query plans here")
    args = ap.parse_args(argv)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import __spark_entry__ as entrymod
    from mapreduceimplementation_spark.session import get_spark

    qs = entrymod.queries()
    unknown = [n for n in args.names if n not in qs]
    if unknown:
        ap.error(f"not registered: {unknown}")
    if args.plans:
        os.makedirs(args.plans, exist_ok=True)
    spark = get_spark("mri-profile")
    bench.warm_up(spark, sf_dir)
    for rec in profile(spark, sf_dir, {n: qs[n] for n in args.names or qs}, args.plans):
        print(report(rec), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
