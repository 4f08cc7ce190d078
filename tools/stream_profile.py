"""Per-microbatch breakdown for the streaming queries (guide §1: measure
first).  Attaches a StreamingQueryListener, runs each named query through
the registry exactly as the bench does (crc action), and prints each
microbatch's durationMs split (triggerExecution = total; queryPlanning =
driver Catalyst re-analysis; addBatch = execution incl. state commits)
plus state-operator commit/memory numbers — the evidence for which part
of the ~1.5-2.5 s/stream machinery floor is plan analysis vs state-store
overhead vs execution.

Usage: python tools/stream_profile.py [sf_dir] [query ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    names = args[1:]
    import __spark_entry__ as entrymod
    from pyspark.sql import functions as F
    from pyspark.sql.streaming import StreamingQueryListener
    from mapreduceimplementation_spark.session import get_spark

    spark = get_spark("mri-stream-profile")
    qs = entrymod.queries()
    if not names:
        names = [n for n in qs if n.startswith("streaming_")]

    events: list[dict] = []

    class _L(StreamingQueryListener):
        def onQueryStarted(self, e):
            events.append({"kind": "start", "t": time.time(), "id": str(e.id)})

        def onQueryProgress(self, e):
            p = e.progress
            events.append(
                {
                    "kind": "progress",
                    "t": time.time(),
                    "batchId": p.batchId,
                    "numInputRows": p.numInputRows,
                    "durationMs": dict(p.durationMs),
                    "stateOperators": [
                        {
                            "operatorName": s.operatorName,
                            "commitTimeMs": s.commitTimeMs,
                            "numRowsTotal": s.numRowsTotal,
                            "numShufflePartitions": s.numShufflePartitions,
                        }
                        for s in p.stateOperators
                    ],
                }
            )

        def onQueryIdle(self, e):
            pass

        def onQueryTerminated(self, e):
            events.append({"kind": "end", "t": time.time(), "id": str(e.id)})

    def wait_terminated(timeout_s: float = 30.0) -> bool:
        """Listener events arrive on an async bus: wait until every
        started stream has reported termination (its progress events
        come before that), or give up after ``timeout_s``."""
        deadline = time.time() + timeout_s
        while True:
            seen = list(events)
            started = {ev["id"] for ev in seen if ev["kind"] == "start"}
            ended = {ev["id"] for ev in seen if ev["kind"] == "end"}
            if started <= ended or time.time() >= deadline:
                return started <= ended
            time.sleep(0.02)

    spark.streams.addListener(_L())
    # parquet-footer + streaming-machinery warm-up; events.parquet is the
    # one table every streaming query reads (benchmark inputs have no other)
    spark.read.parquet(os.path.join(sf_dir, "events.parquet")).count()
    import bench

    bench.warm_streaming(spark)
    wait_terminated()  # so the warm-up's late events miss the first query

    for name in names:
        if name not in qs:
            print(f"## {name}: NOT REGISTERED", flush=True)
            continue
        events.clear()
        t0 = time.time()
        df = qs[name](spark, sf_dir)
        t_stream = time.time()
        df.agg(
            F.count(F.lit(1)),
            F.sum(F.crc32(F.encode(F.to_json(F.struct(*df.columns)), "UTF-8"))),
        ).collect()
        t1 = time.time()
        if not wait_terminated():
            print(f"## {name}: WARNING a stream never reported termination; "
                  "the batch list below may be incomplete")
        print(f"## {name}: total {t1 - t0:.2f}s "
              f"(stream-drive {t_stream - t0:.2f}s, readout {t1 - t_stream:.2f}s)")
        for ev in list(events):
            if ev["kind"] == "progress":
                d = ev["durationMs"]
                so = "; ".join(
                    f"{s['operatorName']}: commit={s['commitTimeMs']}ms "
                    f"rows={s['numRowsTotal']} parts={s['numShufflePartitions']}"
                    for s in ev["stateOperators"]
                )
                print(
                    f"  batch {ev['batchId']}: rows={ev['numInputRows']} "
                    f"trigger={d.get('triggerExecution')}ms "
                    f"plan={d.get('queryPlanning')}ms "
                    f"addBatch={d.get('addBatch')}ms "
                    f"getBatch={d.get('getBatch')}ms "
                    f"walCommit={d.get('walCommit')}ms "
                    f"commitOffsets={d.get('commitOffsets')}ms"
                    + (f" | {so}" if so else "")
                )
        sys.stdout.flush()
    print(json.dumps({"profiled": names}))


if __name__ == "__main__":
    main()
