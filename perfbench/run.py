"""The repository benchmark: seeded, oracle-checked workloads over the package.

    python3 perfbench/run.py --workload mr_corpus --seed 1 --seconds 22 --trace 0

Run from the repository root.  One client runs the workload's queries in a
closed loop, one query at a time, on ``local[<nproc>]`` in this process;
each query is forced by a count + crc32(to_json) action.  Steps:

1. generate the workload's inputs from ``--seed`` (cached per seed under
   ``.perfbench/inputs``, never timed);
2. set up (session start, registry, warm-up); this first set-up also
   launches the JVM;
3. prepare the text-file and event-chunk fixtures;
4. run every query once and check it against its DuckDB oracle
   (``tools/check_oracle.compare``); the verified (rows, crc) fingerprint
   is cached per seed;
5. run one untimed pass over the queries, then timed passes while the
   next one should still end within ``--seconds`` (at least one),
   comparing every output with the verified fingerprint.  A query that
   raises or mismatches counts as failed and the run goes on;
6. restart the session eight more times and keep the median of all nine
   set-ups as ``setup_s``: the time of a session restart in a running JVM.

``wall_s`` is the sum over the queries of each query's median time (a
typical pass); the report line adds ``query_s_p50``, the median of those
times.  The driver JVM compiles with C1 only and starts with its whole
heap: with the default compilers a pass keeps getting faster for a minute
or more, longer than a run can afford to wait, while C1 code is steady
from the first passes on.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` alternates
untraced and traced passes and prints the per-layer metrics; it also
writes the spans to ``.perfbench/results``.  Each run gets a fresh working
directory and ``TMPDIR`` under ``.perfbench``, removed at exit.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``;
the line before it is the full report (inputs, environment, verification,
per-pass times).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402

#: each workload: its queries in fixed order, the tables it reads (with
#: generator sizes), and the fixtures prepared before timing.  Sizes keep
#: one run under a minute on 4 cores (set-up and the cold verification
#: pass take about half of it), so all runs of both workloads fit one hour.
WORKLOADS = {
    # the paper's own job: shuffle + reduce over a Zipf vocabulary, the
    # Python Map/Reduce path, and whole-text-file ingestion
    "mr_corpus": {
        "queries": [
            "mr_wordcount",
            "mr_inverted_index",
            "mr_generic_wc",
            "mr_wordcount_text",
            "mr_file_lengths",
            "mr_distributed_sort",
        ],
        "tables": {
            "documents": dict(
                n_docs=150,
                vocab=800,
                zipf_s=1.0,
                words_lo=20,
                words_hi=280,
                dup_frac=0.05,
            ),
        },
        "fixtures": ["text_corpus"],
    },
    # microbatch machinery, state commits, and writes (foreachBatch
    # upserts, lake merge) beside reads
    "stream_upsert": {
        "queries": [
            "streaming_windowed_counts",
            "streaming_stream_join",
            "streaming_incremental_rollup",
            "table_merge_upsert",
        ],
        "tables": {"events": dict(n=20000)},
        "fixtures": ["events_chunks"],
    },
}

SETUPS = 9
DRIVER_MEM = "1g"


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def host_cpu_s() -> dict:
    """Machine-wide CPU seconds by state, from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    hz = os.sysconf("SC_CLK_TCK")
    return {
        "user": (f[0] + f[1]) / hz,
        "system": f[2] / hz,
        "idle": f[3] / hz,
        "iowait": f[4] / hz,
        "steal": f[7] / hz,
    }


def daemon_pids(jvm_pid: int) -> list[int]:
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            if ppid != jvm_pid:
                continue
            with open(f"/proc/{d}/cmdline", "rb") as fh:
                if b"pyspark.daemon" in fh.read():
                    pids.append(int(d))
        except (OSError, IndexError, ValueError):
            continue
    return pids


def fingerprint(df) -> list:
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.crc32(F.encode(F.to_json(F.struct(*df.columns)), "UTF-8"))).alias(
            "crc"
        ),
    ).collect()[0]
    return [row["n"], row["crc"]]


class Bench:
    def __init__(self, args, inputs_dir: str, run_dir: str, log_dir: str):
        self.args = args
        self.w = args.workload
        self.spec = WORKLOADS[self.w]
        self.inputs_dir = inputs_dir
        self.run_dir = run_dir
        self.log_dir = log_dir
        self.spark = None
        self.tracer = None
        self.report: dict = {}

    # -- set-up ----------------------------------------------------------
    def import_registry(self) -> float:
        t = time.time()
        import __spark_entry__ as entry

        self.entry = entry
        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()
        return time.time() - t

    def set_up(self) -> dict:
        """Stop the running session, if any, and time a new one: session
        start, registry, warm-up."""
        from pyspark import SparkContext

        from mapreduceimplementation_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        t0 = time.time()
        self.spark = get_spark(f"perfbench-{self.w}")
        t1 = time.time()
        self.queries = self.entry.queries()
        self.oracles = self.entry.oracle_sql()
        t2 = time.time()
        self._warm_up()
        t3 = time.time()
        self.sc = SparkContext._active_spark_context
        rep = {"start_s": t1 - t0, "registry_s": t2 - t1, "warmup_s": t3 - t2}
        log(f"setup: {rep}")
        return rep

    @staticmethod
    def set_up_summary(reps: list[dict], registry_load_s: float) -> dict:
        totals = [sum(r.values()) for r in reps]
        # the first set-up also imported the registry
        totals[0] += registry_load_s
        return {
            "setup_s": median(totals),
            "reps": reps,
            "totals": totals,
            "registry_load_s": registry_load_s,
        }

    def _warm_up(self) -> None:
        """Read every input table once: parquet footers, the JVM's
        reader code and the page cache."""
        for t in self.spec["tables"]:
            path = os.path.join(self.inputs_dir, f"{t}.parquet")
            self.spark.read.parquet(path).count()

    def prepare_fixtures(self) -> float:
        t = time.time()
        for f in self.spec["fixtures"]:
            if f == "text_corpus":
                from mapreduceimplementation_spark.sources.text import (
                    materialize_text_corpus,
                )

                materialize_text_corpus(self.inputs_dir)
            elif f == "events_chunks":
                from mapreduceimplementation_spark.streaming import incremental

                incremental._chronological_feed(self.inputs_dir)
        return time.time() - t

    # -- correctness gate -------------------------------------------------
    def verify(self) -> dict:
        """Run every query once, check it against its DuckDB oracle, and
        return {query: verified fingerprint or None}.  Verified
        fingerprints are cached per seed beside the inputs."""
        import duckdb
        from tools.check_oracle import compare

        cache_path = os.path.join(self.inputs_dir, "fingerprints.json")
        cached = {}
        if os.path.exists(cache_path):
            with open(cache_path) as fh:
                cached = json.load(fh)
        con = duckdb.connect()
        for t in self.spec["tables"]:
            path = os.path.join(self.inputs_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        verified: dict[str, list | None] = {}
        status: dict[str, str] = {}
        for name in self.spec["queries"]:
            t0 = time.time()
            try:
                # one execution feeds both the fingerprint and the oracle
                # comparison, so they see the same rows
                df = self.queries[name](self.spark, self.inputs_dir).localCheckpoint()
                fp = fingerprint(df)
                if name in cached:
                    ok = cached[name] == fp
                    status[name] = "cached" if ok else "fingerprint changed"
                else:
                    ok, detail = compare(df.toPandas(), con.execute(self.oracles[name]).df())
                    status[name] = "ok" if ok else f"oracle mismatch:{detail}"
            except Exception as exc:
                traceback.print_exc(file=sys.stderr)
                ok, fp = False, None
                status[name] = f"raised {type(exc).__name__}"
            verified[name] = fp if ok else None
            log(f"verify {name}: {status[name]} {fp} ({time.time() - t0:.2f}s)")
        con.close()
        good = {k: v for k, v in verified.items() if v is not None}
        with open(cache_path, "w") as fh:
            json.dump({**cached, **good}, fh)
        self.report["verification"] = status
        return verified

    # -- timed passes ------------------------------------------------------
    def _span(self, name: str, kind: str, query=None, group=None):
        """A tracer span (and Spark job group) in traced passes."""
        if self.tracer is None or not self.tracer.installed:
            return contextlib.nullcontext()
        if group is not None:
            self.sc.setJobGroup(group, query)
        return self.tracer.span(name, kind, query=query)

    def run_query(self, name: str, verified: dict) -> tuple[dict, bool]:
        """Build and force one query; returns its row and whether it left
        ``spark.conf`` changed (checked in traced passes only)."""
        tracer = self.tracer if self.tracer and self.tracer.installed else None
        row = {"query": name, "build_s": None, "action_s": None, "ok": False}
        conf_before = dict(self.spark.conf.getAll) if tracer else None
        if tracer:
            tracer.current_query = name
        try:
            with self._span(name, "query", name):
                try:
                    a = time.time()
                    with self._span("build", "build", name, f"{self.w}/{name}/build"):
                        df = self.queries[name](self.spark, self.inputs_dir)
                    b = time.time()
                    with self._span("action", "action", name, f"{self.w}/{name}/action"):
                        fp = fingerprint(df)
                    row.update(build_s=b - a, action_s=time.time() - b)
                    row["ok"] = verified.get(name) is not None and fp == verified[name]
                    if not row["ok"]:
                        log(f"{name}: fingerprint {fp} != verified {verified.get(name)}")
                finally:
                    if tracer:
                        self.sc.setLocalProperty("spark.jobGroup.id", None)
                        if not tracer.wait_streams():
                            log(f"{name}: a stream never reported termination")
        except Exception:
            traceback.print_exc(file=sys.stderr)
        leaked = tracer is not None and dict(self.spark.conf.getAll) != conf_before
        return row, leaked

    def run_pass(self, verified: dict, traced: bool) -> dict:
        rows, leaks = [], 0
        t0 = time.time()
        if traced:
            self.tracer.install()
        try:
            with self._span("pass", "pass"):
                for name in self.spec["queries"]:
                    row, leaked = self.run_query(name, verified)
                    rows.append(row)
                    leaks += leaked
        finally:
            if traced:
                self.tracer.uninstall()
        wall = time.time() - t0
        log(
            f"pass traced={traced} wall={wall:.3f}s "
            + " ".join(
                f"{r['query']}={(r['build_s'] or 0) + (r['action_s'] or 0):.2f}"
                for r in rows
            )
        )
        return {"traced": traced, "wall_s": wall, "queries": rows, "conf_leaks": leaks}

    def timed(self, verified: dict) -> list[dict]:
        """Passes while the next one, as long as the median pass so far,
        still ends within ``--seconds`` (at least one).  Traced runs
        alternate untraced and traced passes and end on an untraced one
        after at least three, so each traced pass has an untraced pass on
        either side."""
        passes = []
        t0 = time.time()
        while True:
            traced = bool(self.args.trace) and len(passes) % 2 == 1
            passes.append(self.run_pass(verified, traced))
            next_s = median([p["wall_s"] for p in passes])
            done = time.time() - t0 + next_s > self.args.seconds
            if self.args.trace:
                done = done and len(passes) >= 3 and not traced
            if done:
                return passes

    # -- environment -------------------------------------------------------
    def environment(self, load_avg: tuple) -> dict:
        import pyspark

        try:
            commit = subprocess.run(
                ["git", "rev-parse", "HEAD"],
                cwd=ROOT,
                capture_output=True,
                text=True,
                timeout=10,
                check=True,
            ).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            commit = None
        return {
            "nproc": len(os.sched_getaffinity(0)),
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "defaultParallelism": self.sc.defaultParallelism,
            "spark.sql.shuffle.partitions": self.spark.conf.get(
                "spark.sql.shuffle.partitions"
            ),
            "pyspark": pyspark.__version__,
            "java": self.sc._jvm.System.getProperty("java.version"),
            "git_commit": commit,
            "load_avg_at_start": load_avg,
            "seed": self.args.seed,
        }

    def peak_rss_mb(self) -> float:
        jvm = self.sc._jvm.ProcessHandle.current().pid()
        rss = {"driver": vm_hwm_mb(os.getpid()), "jvm": vm_hwm_mb(jvm)}
        rss["python_daemon"] = sum(vm_hwm_mb(p) for p in daemon_pids(jvm))
        self.report["peak_rss_mb_by_process"] = rss
        return sum(rss.values())

    # -- the run -----------------------------------------------------------
    def run(self, load_avg: tuple, input_mb: float) -> dict:
        from tracing import Tracer

        registry_load_s = self.import_registry()
        reps = [self.set_up()]
        self.report["environment"] = self.environment(load_avg)
        fixture_s = self.prepare_fixtures()
        self.report["fixture_prep_s"] = fixture_s
        verified = self.verify()
        # one untimed pass of the timed plans: Spark's generated-code cache
        # and the JVM's compiled code for them, and the heap, settle here
        self.report["warm_pass_s"] = self.run_pass(verified, False)["wall_s"]
        if self.args.trace:
            self.tracer = Tracer(self.spark)
        cpu0 = host_cpu_s()
        passes = self.timed(verified)
        # time the host took from this machine's CPUs (steal) and spent
        # waiting on disk during the timed passes: a slow run with high
        # steal was slowed by other tenants, not by the program
        self.report["host_cpu_s_during_passes"] = {
            k: v - cpu0[k] for k, v in host_cpu_s().items()
        }
        peak_rss = self.peak_rss_mb()
        app_id = self.sc.applicationId
        # the other set-ups restart the session after the passes, when the
        # JVM is warm and idle: right after launch its compiler threads and
        # class loading make a restart's time vary from run to run
        reps += [self.set_up() for _ in range(SETUPS - 1)]
        setup = self.set_up_summary(reps, registry_load_s)
        self.report["setup"] = setup
        self.spark.stop()

        plain = [p for p in passes if not p["traced"]]
        # each query's median over the passes; a typical pass is their sum
        # and a typical query their median, so one slow pass of one query
        # moves neither
        per_query: dict[str, list[float]] = {}
        for p in plain:
            for r in p["queries"]:
                if r["build_s"] is not None:
                    per_query.setdefault(r["query"], []).append(
                        r["build_s"] + r["action_s"]
                    )
        samples = sum(len(v) for v in per_query.values())
        attempted = sum(len(p["queries"]) for p in passes)
        failed = sum(not r["ok"] for p in passes for r in p["queries"])
        query_s = [median(v) for v in per_query.values()]
        wall = sum(query_s)
        end_to_end = {
            "setup_s": (setup["setup_s"], "s"),
            "wall_s": (wall, "s"),
            "mb_per_s": (input_mb / wall, "MB/s"),
            "peak_rss_mb": (peak_rss, "MB"),
        }
        self.report.update(
            passes=[
                {"traced": p["traced"], "wall_s": p["wall_s"], "queries": p["queries"]}
                for p in passes
            ],
            # not an end-to-end metric: the middle queries' times jump
            # with the host's load more than a whole pass does
            query_s_p50=median(query_s),
            query_s_samples=samples,
            failed_frac=failed / attempted,
            end_to_end={k: {"value": v, "unit": u} for k, (v, u) in end_to_end.items()},
        )
        if self.args.trace:
            metrics = self.layer_metrics(passes, setup, app_id)
        else:
            metrics = end_to_end
        return {
            "correct": failed == 0 and all(v is not None for v in verified.values()),
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }

    def layer_metrics(self, passes: list[dict], setup: dict, app_id: str) -> dict:
        from tracing import parse_event_log, self_times

        tracer = self.tracer
        traced = [p for p in passes if p["traced"]]
        n = len(traced)
        m: dict[str, tuple[float, str]] = {}
        reps = setup["reps"]
        m["session.start_s"] = (median([r["start_s"] for r in reps]), "s")
        m["session.cold_start_s"] = (reps[0]["start_s"], "s")
        m["session.warmup_s"] = (median([r["warmup_s"] for r in reps]), "s")
        m["registry.load_s"] = (setup["registry_load_s"], "s")
        m["session.conf_leaks"] = (sum(p["conf_leaks"] for p in traced) / n, "count")

        spans = tracer.spans
        tracer.microbatch_spans()

        def layer_time(fnames: tuple[str, ...]) -> float:
            return sum(
                s["end"] - s["start"] for s in spans if s["name"] in fnames
            ) / n

        m["sources.read_text_dir_s"] = (layer_time(("sources.read_text_dir",)), "s")
        m["sources.load_table_s"] = (layer_time(("sources.load_table",)), "s")
        m["sources.load_table_calls"] = (
            sum(s["name"] == "sources.load_table" for s in spans) / n,
            "count",
        )
        m["sources.fixture_s"] = (
            layer_time(("sources.materialize_text_corpus", "sources.fixture_dir")),
            "s",
        )

        # jobs from Spark's event log, attributed to traced query phases
        jobs = []
        for job in parse_event_log(self.log_dir, app_id)["jobs"]:
            query, phase = None, None
            group = job["group"] or ""
            if group.startswith(self.w + "/"):
                _, query, phase = group.split("/")
            elif group in tracer.stream_runs:
                query, phase = tracer.stream_runs[group], "build"
            if phase is None:
                for kind in ("build", "action"):
                    sid = tracer.covering(job["start"], kind)
                    if sid is not None:
                        query, phase = spans[sid]["query"], kind
                        break
                else:
                    continue  # a job of an untraced pass
            parent = tracer.covering(job["start"], phase, query)
            tracer.add(
                f"job {job['id']}",
                "job",
                job["start"],
                job["end"] or job["start"],
                parent,
                query=query,
                phase=phase,
                stages=job["stages"],
            )
            jobs.append({"query": query, "phase": phase, **job})

        for phase in ("build", "action"):
            m[f"{phase}_s"] = (
                sum(r[f"{phase}_s"] or 0 for p in traced for r in p["queries"]) / n,
                "s",
            )
            m[f"{phase}_jobs"] = (sum(j["phase"] == phase for j in jobs) / n, "count")
        for name in (q for w in WORKLOADS.values() for q in w["queries"]):
            rs = [r for p in traced for r in p["queries"] if r["query"] == name]
            m[f"{name}.build_s"] = (sum(r["build_s"] or 0 for r in rs) / n, "s")
            m[f"{name}.action_s"] = (sum(r["action_s"] or 0 for r in rs) / n, "s")
            m[f"{name}.jobs"] = (sum(j["query"] == name for j in jobs) / n, "count")

        def job_sum(key: str) -> float:
            return sum(j["metrics"].get(key, 0.0) for j in jobs) / n

        traced_wall = sum(p["wall_s"] for p in traced) / n
        cores = self.report["environment"]["defaultParallelism"]
        m["spark.jobs"] = (len(jobs) / n, "count")
        m["spark.stages"] = (sum(j["stages"] for j in jobs) / n, "count")
        m["spark.tasks"] = (job_sum("tasks"), "count")
        for key in ("task_run_s", "task_cpu_s", "gc_s", "sched_delay_s", "fetch_wait_s"):
            m[f"spark.{key}"] = (job_sum(key), "s")
        m["spark.idle_frac"] = (
            1 - job_sum("task_run_s") / (traced_wall * cores),
            "fraction",
        )
        for key in ("shuffle_write_mb", "shuffle_read_mb", "spill_mb"):
            m[f"spark.{key}"] = (job_sum(key), "MB")
        m["spark.failed_tasks"] = (job_sum("failed_tasks"), "count")
        m["python.mb_to_workers"] = (job_sum("python_mb_to_workers"), "MB")
        m["python.mb_from_workers"] = (job_sum("python_mb_from_workers"), "MB")
        m["python.rows_from_workers"] = (job_sum("python_rows_from_workers"), "count")

        batches = tracer.progress
        dur = [b["duration_ms"] for b in batches]
        last_state: dict[str, list] = {}
        for b in batches:
            last_state[b["run_id"]] = b["state"]
        m["streaming.batches"] = (len(batches) / n, "count")
        m["streaming.useful_batch_frac"] = (
            sum(b["input_rows"] > 0 for b in batches) / len(batches) if batches else 0.0,
            "fraction",
        )
        m["streaming.microbatch_ms.p50"] = (
            median([d.get("triggerExecution", 0) for d in dur]),
            "ms",
        )
        m["streaming.plan_ms"] = (sum(d.get("queryPlanning", 0) for d in dur) / n, "ms")
        m["streaming.addbatch_ms"] = (sum(d.get("addBatch", 0) for d in dur) / n, "ms")
        m["streaming.commit_ms"] = (
            sum(d.get("commitOffsets", 0) + d.get("walCommit", 0) for d in dur) / n,
            "ms",
        )
        m["streaming.state_commit_ms"] = (
            sum(s["commit_ms"] for b in batches for s in b["state"]) / n,
            "ms",
        )
        m["streaming.state_rows"] = (
            sum(s["rows"] for st in last_state.values() for s in st) / n,
            "count",
        )
        m["streaming.state_mem_mb"] = (
            sum(s["mem_bytes"] for st in last_state.values() for s in st) / 1e6 / n,
            "MB",
        )

        # each traced pass against the mean of its untraced neighbours,
        # which cancels the speed-up of a session that is still warming
        walls = [p["wall_s"] for p in passes]
        m["trace.overhead_frac"] = (
            median(
                [
                    2 * walls[i] / (walls[i - 1] + walls[i + 1])
                    for i in range(1, len(walls) - 1, 2)
                ]
            )
            - 1,
            "fraction",
        )
        pass_s = sum(s["end"] - s["start"] for s in spans if s["kind"] == "pass")
        query_s = sum(s["end"] - s["start"] for s in spans if s["kind"] == "query")
        m["trace.span_coverage"] = (query_s / pass_s, "fraction")

        self_times(spans)
        by_kind: dict[str, float] = {}
        for s in spans:
            by_kind[s["kind"]] = by_kind.get(s["kind"], 0.0) + s["self_s"]
        self.report["self_s_by_kind"] = {k: v / n for k, v in by_kind.items()}
        self.report["spans"] = self.write_spans(spans)
        return m

    def write_spans(self, spans: list[dict]) -> str:
        out = os.path.join(ROOT, ".perfbench", "results")
        os.makedirs(out, exist_ok=True)
        path = os.path.join(out, f"{self.w}-seed{self.args.seed}.spans.json")
        with open(path, "w") as fh:
            json.dump(spans, fh)
        return os.path.relpath(path, ROOT)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate(run_dir: str, log_dir: str) -> None:
    """Fresh TMPDIR, working directory, Spark local dirs and JVM temp dir
    for this run; workers find the package through PYTHONPATH."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    if log_dir:
        os.makedirs(log_dir)
    cpus = str(len(os.sched_getaffinity(0)))
    submit = [
        "--driver-java-options",
        f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM} -XX:-UsePerfData -XX:TieredStopAtLevel=1",
        "--conf",
        f"spark.local.dir={tmp}",
        "--conf",
        "spark.ui.showConsoleProgress=false",
    ]
    if log_dir:
        submit += [
            "--conf",
            "spark.eventLog.enabled=true",
            "--conf",
            f"spark.eventLog.dir=file://{log_dir}",
            "--conf",
            "spark.eventLog.compress=false",
            "--conf",
            "spark.eventLog.rolling.enabled=false",
        ]
    pythonpath = os.environ.get("PYTHONPATH")
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=tmp,
        SPARK_GRAFT_CPUS=cpus,
        SPARK_DRIVER_MEM=DRIVER_MEM,
        PYTHONPATH=ROOT + (os.pathsep + pythonpath if pythonpath else ""),
        PYSPARK_SUBMIT_ARGS=shlex.join([*submit, "pyspark-shell"]),
    )
    import tempfile

    tempfile.tempdir = None
    os.chdir(run_dir)
    sys.path.insert(0, ROOT)


def stop_jvm() -> None:
    """Stop the Spark JVM this process launched and wait for it to end."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (
        os.path.isdir(os.path.join(ROOT, "mapreduceimplementation_spark"))
        and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
    ):
        log(f"no package to benchmark under {ROOT}")
        return 2
    load_avg = os.getloadavg()
    spec = WORKLOADS[args.workload]
    base = os.path.join(ROOT, ".perfbench")
    inputs_dir = os.path.join(base, "inputs", f"{args.workload}-seed{args.seed}")
    t = time.time()
    props = gen.generate(inputs_dir, args.seed, spec["tables"])
    gen_s = time.time() - t
    input_mb = sum(p["bytes"] for p in props.values()) / 1e6
    run_dir = os.path.join(
        base, f"run-{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    )
    log_dir = os.path.join(run_dir, "eventlog") if args.trace else ""
    cwd = os.getcwd()
    isolate(run_dir, log_dir)
    bench = Bench(args, inputs_dir, run_dir, log_dir)
    try:
        result = bench.run(load_avg, input_mb)
    finally:
        stop_jvm()
        os.chdir(cwd)
        shutil.rmtree(run_dir, ignore_errors=True)
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "query_order": spec["queries"],
        "inputs": {"mb": input_mb, "generate_s": gen_s, "tables": props},
        "closed_loop": "1 client, 1 query at a time",
        **bench.report,
    }
    print(json.dumps(report))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
