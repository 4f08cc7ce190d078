"""Tracing for the benchmark's traced run, measured from outside the package.

- ``Tracer`` keeps spans (name, kind, start, end, parent) in memory.  While
  installed it wraps the public functions of ``sources``, ``session`` and
  ``registry`` in every module that imported them by name, and attaches a
  ``StreamingQueryListener`` that records each microbatch.
- ``parse_event_log`` reads Spark's own event log after the run and
  attributes every job to a query phase by its job group
  (``<workload>/<query>/build|action``) or, for a stream, by the run id the
  listener reported.
"""

from __future__ import annotations

import functools
import glob
import inspect
import json
import os
import sys
import threading
import time
from contextlib import contextmanager
from datetime import datetime

PKG = "mapreduceimplementation_spark"
#: modules whose public functions are wrapped, and the layer each belongs to
WRAPPED_MODULES = {
    f"{PKG}.sources.tables": "sources",
    f"{PKG}.sources.text": "sources",
    f"{PKG}.sources.fixtures": "sources",
    f"{PKG}.sources.sinks": "sources",
    f"{PKG}.session": "session",
    f"{PKG}.registry": "registry",
}


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.installed = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self._listener = None
        self.current_query: str | None = None
        #: stream run id -> query name, filled synchronously by onQueryStarted
        self.stream_runs: dict[str, str] = {}
        self.progress: list[dict] = []
        self._terminated: set[str] = set()
        self._lock = threading.Lock()

    # -- spans ---------------------------------------------------------
    def open(self, name: str, kind: str, **attrs) -> int:
        sid = len(self.spans)
        self.spans.append(
            {
                "id": sid,
                "name": name,
                "kind": kind,
                "start": time.time(),
                "end": None,
                "parent": self._stack[-1] if self._stack else None,
                **attrs,
            }
        )
        self._stack.append(sid)
        return sid

    def close(self, sid: int) -> None:
        self.spans[sid]["end"] = time.time()
        self._stack.pop()

    @contextmanager
    def span(self, name: str, kind: str, **attrs):
        sid = self.open(name, kind, **attrs)
        try:
            yield sid
        finally:
            self.close(sid)

    def add(self, name: str, kind: str, start: float, end: float, parent, **attrs):
        self.spans.append(
            {
                "id": len(self.spans),
                "name": name,
                "kind": kind,
                "start": start,
                "end": end,
                "parent": parent,
                **attrs,
            }
        )

    # -- install / uninstall -------------------------------------------
    def install(self) -> None:
        targets: dict[int, tuple[str, str, object]] = {}
        for mod_name, layer in WRAPPED_MODULES.items():
            mod = sys.modules.get(mod_name)
            if mod is None:
                continue
            for attr, fn in vars(mod).items():
                if (
                    not attr.startswith("_")
                    and inspect.isfunction(fn)
                    and fn.__module__ == mod_name
                ):
                    targets[id(fn)] = (layer, attr, fn)
        entry = sys.modules.get("__spark_entry__")
        if entry is not None:
            for attr in ("queries", "oracle_sql"):
                fn = getattr(entry, attr)
                targets[id(fn)] = ("registry", attr, fn)
        importers = [
            m
            for name, m in list(sys.modules.items())
            if m is not None and (name == "__spark_entry__" or name.startswith(PKG))
        ]
        for mod in importers:
            for attr, value in list(vars(mod).items()):
                hit = targets.get(id(value))
                if hit is not None:
                    layer, fname, fn = hit
                    setattr(mod, attr, self._wrap(layer, fname, fn))
                    self._patched.append((mod, attr, value))
        self._attach_listener()
        self.installed = True

    def uninstall(self) -> None:
        self.installed = False
        self.current_query = None
        for mod, attr, value in reversed(self._patched):
            setattr(mod, attr, value)
        self._patched.clear()
        if self._listener is not None:
            self.spark.streams.removeListener(self._listener)
            self._listener = None

    def _wrap(self, layer: str, fname: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            sid = tracer.open(f"{layer}.{fname}", layer)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.close(sid)

        return traced

    # -- streaming -------------------------------------------------------
    def _attach_listener(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class _Listener(StreamingQueryListener):
            # onQueryStarted runs synchronously inside writeStream.start(),
            # so the current query is the one that started the stream
            def onQueryStarted(self, event):
                with tracer._lock:
                    tracer.stream_runs[str(event.runId)] = tracer.current_query

            def onQueryProgress(self, event):
                p = event.progress
                with tracer._lock:
                    tracer.progress.append(
                        {
                            "run_id": str(p.runId),
                            "batch_id": p.batchId,
                            "timestamp": p.timestamp,
                            "input_rows": p.numInputRows,
                            "duration_ms": dict(p.durationMs),
                            "state": [
                                {
                                    "commit_ms": s.commitTimeMs,
                                    "rows": s.numRowsTotal,
                                    "mem_bytes": s.memoryUsedBytes,
                                }
                                for s in p.stateOperators
                            ],
                        }
                    )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with tracer._lock:
                    tracer._terminated.add(str(event.runId))

        self._listener = _Listener()
        self.spark.streams.addListener(self._listener)

    def wait_streams(self, timeout: float = 30.0) -> bool:
        """Poll until every stream started so far has reported its
        terminated event, so late progress events are not lost."""
        deadline = time.time() + timeout
        while time.time() < deadline:
            with self._lock:
                if set(self.stream_runs) <= self._terminated:
                    return True
            time.sleep(0.01)
        return False

    def microbatch_spans(self) -> None:
        """One span per microbatch, under the build span of its query's
        traced execution that covers the batch start."""
        for p in self.progress:
            start = _iso_ts(p["timestamp"])
            end = start + p["duration_ms"].get("triggerExecution", 0) / 1000
            query = self.stream_runs.get(p["run_id"])
            parent = self.covering(start, "build", query)
            self.add(
                f"microbatch {p['batch_id']}",
                "microbatch",
                start,
                end,
                parent,
                query=query,
                run_id=p["run_id"],
            )

    def covering(self, t: float, kind: str, query: str | None = None):
        for s in self.spans:
            if (
                s["kind"] == kind
                and s["start"] <= t <= (s["end"] or t)
                and (query is None or s.get("query") == query)
            ):
                return s["id"]
        return None


def _iso_ts(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def self_times(spans: list[dict]) -> None:
    """Set each span's ``self_s``: its duration minus the union of the
    intervals its children cover (children clipped to the parent)."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    for s in spans:
        start, end = s["start"], s["end"]
        covered, cur = 0.0, start
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            a, b = max(c["start"], cur), min(c["end"], end)
            if b > a:
                covered += b - a
                cur = b
        s["self_s"] = max(0.0, end - start - covered)


def _plan_python_row_ids(node: dict, out: set[int]) -> None:
    names = {m["name"]: m["accumulatorId"] for m in node.get("metrics", [])}
    if "data sent to Python workers" in names and "number of output rows" in names:
        out.add(names["number of output rows"])
    for child in node.get("children", []):
        _plan_python_row_ids(child, out)


def parse_event_log(log_dir: str, app_id: str) -> dict:
    """Jobs, and task metrics per job, from the app's event log."""
    paths = glob.glob(os.path.join(log_dir, f"{app_id}*"))
    if not paths:
        raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    python_row_ids: set[int] = set()
    tasks: list[dict] = []
    with open(paths[0]) as fh:
        for line in fh:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                jid = e["Job ID"]
                jobs[jid] = {
                    "id": jid,
                    "group": (e.get("Properties") or {}).get("spark.jobGroup.id"),
                    "start": e["Submission Time"] / 1000,
                    "end": None,
                    "stages": len(e["Stage IDs"]),
                }
                for sid in e["Stage IDs"]:
                    stage_job[sid] = jid
            elif kind == "SparkListenerJobEnd":
                jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000
            elif kind.endswith("SQLExecutionStart") or kind.endswith(
                "SQLAdaptiveExecutionUpdate"
            ):
                _plan_python_row_ids(e["sparkPlanInfo"], python_row_ids)
            elif kind == "SparkListenerTaskEnd":
                tasks.append(e)
    per_job: dict[int, dict] = {}
    for e in tasks:
        jid = stage_job.get(e["Stage ID"])
        if jid is None:
            continue
        info = e["Task Info"]
        m = e.get("Task Metrics") or {}
        sr = m.get("Shuffle Read Metrics") or {}
        sw = m.get("Shuffle Write Metrics") or {}
        acc = info.get("Accumulables") or []
        run_s = (info["Finish Time"] - info["Launch Time"]) / 1000
        busy = (
            m.get("Executor Run Time", 0)
            + m.get("Executor Deserialize Time", 0)
            + m.get("Result Serialization Time", 0)
        ) / 1000
        row = {
            "tasks": 1,
            "failed_tasks": int(bool(info.get("Failed"))),
            "task_run_s": run_s,
            "task_cpu_s": m.get("Executor CPU Time", 0) / 1e9,
            "gc_s": m.get("JVM GC Time", 0) / 1000,
            "sched_delay_s": max(0.0, run_s - busy),
            "shuffle_write_mb": sw.get("Shuffle Bytes Written", 0) / 1e6,
            "shuffle_read_mb": (
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            )
            / 1e6,
            "fetch_wait_s": sr.get("Fetch Wait Time", 0) / 1000,
            "spill_mb": (
                m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            )
            / 1e6,
            "python_mb_to_workers": sum(
                float(a.get("Update", 0))
                for a in acc
                if a.get("Name") == "data sent to Python workers"
            )
            / 1e6,
            "python_mb_from_workers": sum(
                float(a.get("Update", 0))
                for a in acc
                if a.get("Name") == "data returned from Python workers"
            )
            / 1e6,
            "python_rows_from_workers": sum(
                float(a.get("Update", 0)) for a in acc if a.get("ID") in python_row_ids
            ),
        }
        agg = per_job.setdefault(jid, dict.fromkeys(row, 0.0))
        for k, v in row.items():
            agg[k] += v
    for jid, job in jobs.items():
        job["metrics"] = per_job.get(jid, {})
    return {"jobs": list(jobs.values())}
