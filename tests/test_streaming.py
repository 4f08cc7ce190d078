"""Structured Streaming tests (SURVEY.md §2 D1–D4).

The driver's oracle gate already hash-checks all four operators at
sf0.01; these tests cover what the single-file gate can't:
multi-microbatch state carry-over (dedup state, join buffers, session
GroupState) under maxFilesPerTrigger=1.
"""

from __future__ import annotations

import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import mapreduceimplementation_spark as eng
from mapreduceimplementation_spark.sources.tables import load_table
from mapreduceimplementation_spark.streaming.sessionize import run_sessionize_stream

eng.load_all_operators()


def _rows(df):
    return sorted(
        (
            int(r["user_id"]),
            int(r["session_id"]),
            int(r["n_events"]),
            r["session_start"],
            r["session_end"],
            round(float(r["total_value"]), 6),
        )
        for r in df.collect()
    )


def test_streaming_windowed_equals_batch(spark, sf_dir):
    """D1 complete-mode availableNow result == the batch aggregation."""
    from pyspark.sql import functions as F

    from mapreduceimplementation_spark.functions.stable import dsum

    stream = eng.QUERIES["streaming_windowed_counts"](spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    batch = ev.groupBy(
        F.date_trunc("minute", "ts").alias("minute"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n_events"), dsum("value").alias("total_value"))
    a = sorted(map(tuple, stream.collect()))
    b = sorted(map(tuple, batch.collect()))
    assert a == b


def test_sessionize_state_survives_microbatches(spark, sf_dir, tmp_path):
    """Split events into 3 files, stream them one file per microbatch:
    sessions spanning batch boundaries must be stitched by GroupState and
    the reconciled output must equal the batch twin exactly."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    pdf = ev.toPandas().sort_values(["ts", "event_id"])
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    d = tmp_path / "events_stream"
    d.mkdir()
    k = len(pdf) // 3
    for i, chunk in enumerate((pdf[:k], pdf[k : 2 * k], pdf[2 * k :])):
        p = str(d / f"part-{i:02d}.parquet")
        pq.write_table(pa.Table.from_pandas(chunk, preserve_index=False), p)
        os.utime(p, (1_000_000_000 + i * 100, 1_000_000_000 + i * 100))

    out = run_sessionize_stream(
        spark, str(d), sink="d2_multibatch_sink", maxFilesPerTrigger=1
    )
    # the raw sink must contain provisional re-emits (proves >1 microbatch
    # actually fed state carry-over, not one big batch)
    raw_n = spark.table("d2_multibatch_sink").count()
    final = _rows(out)
    assert raw_n > len(final)

    batch = eng.QUERIES["events_sessionize"](spark, sf_dir)
    assert final == _rows(batch)


def _split_events(spark, sf_dir, tmp_path, n_files=3):
    """Write events as n time-ordered parquet files with increasing mtimes
    so the file source feeds them oldest-first, one per microbatch."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    pdf = ev.toPandas().sort_values(["ts", "event_id"])
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    d = tmp_path / "events_stream"
    d.mkdir()
    k = len(pdf) // n_files
    for i in range(n_files):
        chunk = pdf[i * k :] if i == n_files - 1 else pdf[i * k : (i + 1) * k]
        p = str(d / f"part-{i:02d}.parquet")
        pq.write_table(pa.Table.from_pandas(chunk, preserve_index=False), p)
        os.utime(p, (1_000_000_000 + i * 100, 1_000_000_000 + i * 100))
    return str(d)


def test_streaming_dedup_state_survives_microbatches(spark, sf_dir, tmp_path):
    """D3: a key first seen in batch 1 must suppress its duplicates in
    batches 2..n — the sink must hold exactly the batch-DISTINCT keys."""
    from pyspark.sql import functions as F

    from mapreduceimplementation_spark.streaming.dedupe import run_dedup_stream

    path = _split_events(spark, sf_dir, tmp_path)
    out = run_dedup_stream(spark, path, sink="d3_multibatch_sink", maxFilesPerTrigger=1)
    batch = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_type", F.date_trunc("day", "ts").alias("day"))
        .distinct()
    )
    a = sorted(map(tuple, out.collect()))
    b = sorted(map(tuple, batch.collect()))
    # sanity: real duplicates exist across batch boundaries, so equality
    # proves cross-batch state suppression rather than trivially holding
    total = load_table(spark, sf_dir, "events").count()
    assert len(a) < total
    assert a == b


def test_streaming_join_state_survives_microbatches(spark, sf_dir, tmp_path):
    """D4: a click buffered in batch 1 must still match a purchase arriving
    in a later batch — output equals the batch interval join."""
    from pyspark.sql import functions as F

    from mapreduceimplementation_spark.streaming.joins import run_stream_join

    path = _split_events(spark, sf_dir, tmp_path)
    out = run_stream_join(spark, path, sink="d4_multibatch_sink", maxFilesPerTrigger=1)

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_event_id"), "user_id", F.col("ts").alias("click_ts")
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_event_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
    )
    batch = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 24 HOURS")),
    ).select(
        "click_event_id",
        "purchase_event_id",
        "user_id",
        "click_ts",
        "purchase_ts",
        (F.unix_micros("purchase_ts") - F.unix_micros("click_ts")).alias(
            "micros_after_click"
        ),
    )
    a = sorted(map(tuple, out.collect()))
    b = sorted(map(tuple, batch.collect()))
    assert len(b) > 0
    assert a == b


def test_streaming_json_equals_parquet_stream(spark, sf_dir):
    """D5: the JSON-lines-fed stream produces exactly the rows of the
    parquet-fed D1 stream — format-parity under streaming execution."""
    a = sorted(
        map(repr, eng.QUERIES["streaming_windowed_counts"](spark, sf_dir).collect())
    )
    b = sorted(
        map(
            repr,
            eng.QUERIES["streaming_windowed_counts_json"](spark, sf_dir).collect(),
        )
    )
    assert a == b and len(a) > 0


def test_sessionize_native_multibatch_equals_batch(spark, sf_dir, tmp_path):
    """D6: the built-in session_window aggregation fed one file per
    microbatch must stitch cross-batch sessions in the JVM state store and
    equal the batch twin B8 exactly (same gate as D2's multibatch test)."""
    from mapreduceimplementation_spark.streaming.sessionize import (
        run_sessionize_native_stream,
    )

    path = _split_events(spark, sf_dir, tmp_path)
    out = run_sessionize_native_stream(
        spark, path, sink="d6_multibatch_sink", maxFilesPerTrigger=1
    )
    batch = eng.QUERIES["events_sessionize"](spark, sf_dir)
    assert _rows(out) == _rows(batch)


def test_incremental_rollup_multibatch_equals_batch(spark, sf_dir):
    """D7: the foreachBatch-upserted serving table, built across several
    update-mode microbatches, equals the one-pass batch rollup exactly —
    and the stream really did run more than one merge."""
    from mapreduceimplementation_spark.streaming.incremental import (
        run_incremental_rollup,
    )

    from pyspark.sql import functions as F

    from mapreduceimplementation_spark.functions.stable import dsum

    out, n_batches = run_incremental_rollup(spark, sf_dir)
    assert n_batches >= 2, "feed must split into multiple microbatches"
    ev = load_table(spark, sf_dir, "events")
    batch = ev.groupBy(
        F.date_trunc("minute", "ts").alias("minute"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n_events"), dsum("value").alias("total_value"))
    cols = ["minute", "event_type", "n_events", "total_value"]
    a = sorted(map(tuple, out.select(*cols).collect()))
    b = sorted(map(tuple, batch.select(*cols).collect()))
    assert a == b and len(a) > 0


def test_incremental_rollup_upserts_straddled_windows(spark, sf_dir, tmp_path):
    """D7's merge must REPLACE a window's value when a later microbatch
    extends it: a controlled two-chunk feed puts the SAME (minute, type)
    key in both microbatches — the serving table must end with the
    combined total, not the first batch's partial value."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from mapreduceimplementation_spark.streaming.incremental import (
        run_incremental_rollup,
    )

    def chunk(path, rows, mtime):
        t = pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array([r[3] for r in rows], pa.string()),
                "value": pa.array([r[4] for r in rows], pa.float64()),
                "props": pa.array(["{}"] * len(rows), pa.string()),
            }
        )
        pq.write_table(t, path)
        os.utime(path, (mtime, mtime))

    import datetime as dt

    m = dt.datetime(2024, 1, 1, 12, 0)

    def ts(sec):
        return m + dt.timedelta(seconds=sec)

    chunk(
        str(tmp_path / "chunk-00.parquet"),
        [(1, ts(5), 1, "click", 1.0), (2, ts(10), 2, "click", 2.0)],
        1_000_000,
    )
    chunk(
        str(tmp_path / "chunk-01.parquet"),
        [(3, ts(20), 3, "click", 4.0), (4, ts(70), 1, "view", 8.0)],
        1_000_001,
    )
    out, n_batches = run_incremental_rollup(
        spark, sf_dir, feed_dir=str(tmp_path)
    )
    assert n_batches == 2
    rows = {
        (r["minute"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in out.collect()
    }
    # the 12:00/click window was updated by batch 2: 3 events, 7.0 total
    assert rows[(m, "click")] == (3, 7.0)
    assert rows[(m + dt.timedelta(minutes=1), "view")] == (1, 8.0)
    assert len(rows) == 2


def test_upsert_stream_leaves_one_state_dir(spark, sf_dir):
    """A run of an upsert stream removes the serving-table state its
    previous run left: three runs of D7 leave one state dir on disk, and
    the last run's table still reads."""
    from urllib.parse import urlparse

    from mapreduceimplementation_spark.streaming.incremental import (
        run_incremental_rollup,
    )

    work_dirs = set()
    for _ in range(3):
        out, _ = run_incremental_rollup(spark, sf_dir)
        # the serving table is <work dir>/state-<batch id>/part-*.parquet
        for f in out.inputFiles():
            work_dirs.add(os.path.dirname(os.path.dirname(urlparse(f).path)))
    state_dirs = [
        os.path.join(w, e)
        for w in work_dirs
        if os.path.isdir(w)
        for e in os.listdir(w)
    ]
    assert len(state_dirs) == 1, state_dirs
    assert out.count() > 0


#: the stream calls each runner of streaming/windowed.py may make
_RUNNER_CALLS = {
    "run_to_memory": {"writeStream", "format", "queryName", "_stop_query"},
    "run_upsert": {"writeStream"},
}


def _stream_starts(path) -> list[str]:
    """Lines of ``path`` that start or stop a stream by hand: a
    ``.writeStream``, ``.queryName(``, ``.format("memory")`` or
    ``_stop_query(`` call outside the streaming/windowed.py runner
    allowed to make it (``_RUNNER_CALLS``)."""
    import ast

    in_windowed = path.name == "windowed.py" and path.parent.name == "streaming"
    hits = []
    for stmt in ast.parse(path.read_text(), str(path)).body:
        allowed = set()
        if in_windowed and isinstance(stmt, ast.FunctionDef):
            allowed = _RUNNER_CALLS.get(stmt.name, set())
        for node in ast.walk(stmt):
            kind = None
            if isinstance(node, ast.Attribute) and node.attr == "writeStream":
                kind = "writeStream"
            elif isinstance(node, ast.Call):
                f = node.func
                name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
                memory = name == "format" and any(
                    isinstance(a, ast.Constant) and a.value == "memory"
                    for a in node.args
                )
                if name in ("queryName", "_stop_query") or memory:
                    kind = name
            if kind is not None and kind not in allowed:
                hits.append(node.lineno)
    return [f"{path.parent.name}/{path.name}:{n}" for n in sorted(set(hits))]


def test_streams_start_only_in_the_runners():
    """Every query stream goes through windowed.run_to_memory or
    windowed.run_upsert: no other function builds a writeStream or
    stops a query, and nothing under streaming/ makes a temp dir that
    outlives its run."""
    from pathlib import Path

    pkg = Path(eng.__file__).resolve().parent
    modules = sorted(pkg.rglob("*.py"))
    assert pkg / "streaming" / "windowed.py" in modules
    hits = [h for p in modules for h in _stream_starts(p)]
    assert not hits, f"streams started outside the runners: {hits}"
    mkdtemp = [
        p.name for p in (pkg / "streaming").glob("*.py") if "mkdtemp" in p.read_text()
    ]
    assert not mkdtemp, f"tempfile.mkdtemp under streaming/: {mkdtemp}"


def test_enriched_stream_multibatch_equals_batch(spark, sf_dir, tmp_path):
    """D8: the stream-static join must enrich events arriving in ANY
    microbatch (the static side is re-resolved per batch, the stream is
    never buffered) — multi-batch result equals the batch join+rollup,
    and both tiers actually occur."""
    from pyspark.sql import functions as F

    from mapreduceimplementation_spark.functions.stable import dsum
    from mapreduceimplementation_spark.streaming.enrich import (
        run_enriched_stream,
        user_tiers,
    )

    path = _split_events(spark, sf_dir, tmp_path)
    out = run_enriched_stream(
        spark, path, sf_dir, sink="d8_multibatch_sink", maxFilesPerTrigger=1
    )
    ev = load_table(spark, sf_dir, "events")
    batch = (
        ev.join(user_tiers(spark, sf_dir), "user_id")
        .groupBy(F.date_trunc("day", "ts").alias("day"), "tier")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value").alias("total_value"))
    )
    cols = ["day", "tier", "n_events", "total_value"]
    a = sorted(map(tuple, out.select(*cols).collect()))
    b = sorted(map(tuple, batch.select(*cols).collect()))
    assert a == b and len(a) > 0
    tiers = {t for _, t, _, _ in a}
    assert tiers == {"heavy", "light"}


# ---------------------------------------------------------------------------
# D9. streaming_value_histogram


def test_streaming_histogram_equals_batch_twin(spark, sf_dir):
    """The multi-microbatch streamed histogram must equal B36's batch
    histogram cell-for-cell (shared fixed bin edges = mergeable cells)."""
    stream = {
        tuple(r) for r in
        eng.QUERIES["streaming_value_histogram"](spark, sf_dir).collect()
    }
    batch = {
        tuple(r) for r in
        eng.QUERIES["events_value_histogram"](spark, sf_dir).collect()
    }
    assert stream == batch


def test_streaming_histogram_feed_is_multibatch(spark, sf_dir):
    """maxFilesPerTrigger=1 over the chunked feed: the stream must
    actually run >1 microbatch for the accumulation claim to mean
    anything."""
    import glob
    import os

    from mapreduceimplementation_spark.streaming.incremental import (
        _chronological_feed,
    )

    feed = _chronological_feed(sf_dir)
    assert len(glob.glob(os.path.join(feed, "chunk-*.parquet"))) >= 2


def test_streaming_checkpoint_recovery(spark, sf_dir, tmp_path):
    """The crash.go analog on the streaming surface: kill a stateful
    streaming query mid-feed, restart it from its CHECKPOINT, feed the
    rest — the recovered run must resume from the source offsets and
    aggregation state in the checkpoint (not reprocess, not lose) and
    the final result must equal the one-shot batch aggregation."""
    import shutil

    from pyspark.sql import functions as F

    from mapreduceimplementation_spark.functions.stable import dsum
    from mapreduceimplementation_spark.streaming.windowed import (
        _events_stream,
        _run_stream,
        _stop_query,
    )

    src = _split_events(spark, sf_dir, tmp_path, n_files=4)
    feed = tmp_path / "feed"
    feed.mkdir()
    parts = sorted(os.listdir(src))
    for p in parts[:2]:  # only the first half is visible to run 1
        shutil.copy2(os.path.join(src, p), feed / p)
    ckpt = str(tmp_path / "ckpt")
    sink = "d_ckpt_recovery_sink"
    _stop_query(spark, sink)

    def run_once():
        ev = _events_stream(spark, str(feed), maxFilesPerTrigger="1")
        agg = (
            ev.withWatermark("ts", "1 minute")
            .groupBy(F.window("ts", "1 minute").alias("win"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                dsum("value").alias("total_value"),
            )
            .select(
                F.col("win.start").alias("minute"),
                "event_type",
                "n_events",
                "total_value",
            )
        )
        _run_stream(
            spark,
            agg.writeStream.format("memory")
            .queryName(sink)
            .outputMode("complete")
            .option("checkpointLocation", ckpt),
        )

    run_once()  # run 1: first half, then the query is gone
    partial = spark.table(sink).count()
    for p in parts[2:]:  # the rest arrives while nothing is running
        shutil.copy2(os.path.join(src, p), feed / p)
    run_once()  # run 2: restarts from the checkpoint, reads only new files

    got = {
        tuple(r)
        for r in spark.table(sink).collect()
    }
    batch = {
        tuple(r)
        for r in load_table(spark, sf_dir, "events")
        .groupBy(
            F.date_trunc("minute", "ts").alias("minute"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
        )
        .collect()
    }
    assert got == batch
    # run 1 really was partial — recovery had state to restore
    assert partial < len(batch)


def _windowed_count_writer(spark, path, sink, **options):
    """A stateful windowed count over the events at ``path``, as a
    complete-mode memory-sink writer (not started)."""
    from pyspark.sql import functions as F

    from mapreduceimplementation_spark.streaming.windowed import (
        _events_stream,
        _stop_query,
    )

    _stop_query(spark, sink)
    agg = (
        _events_stream(spark, path, **options)
        .withWatermark("ts", "1 minute")
        .groupBy(F.window("ts", "1 minute").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return agg.writeStream.format("memory").queryName(sink).outputMode("complete")


def test_stream_checkpoint_forks_no_readlink(spark, sf_dir, tmp_path):
    """Checkpoint writes must not fork a process per link-status call.
    Without the native libhadoop, Spark's default FileContext checkpoint
    manager forks ``readlink`` on every checkpoint create and rename
    (~4 ms each); the FileSystem-API manager never asks for link status.
    Counted with an in-process JFR recording of ``jdk.ProcessStart``.
    ``chmod`` is not asserted: the local filesystem forks one per created
    file under either manager."""
    from mapreduceimplementation_spark.streaming.windowed import _run_stream

    writer = _windowed_count_writer(
        spark, os.path.join(sf_dir, "events.parquet"), "d_fork_count_sink"
    )
    jvm = spark._jvm
    rec = jvm.jdk.jfr.Recording()
    try:
        rec.enable("jdk.ProcessStart")
        rec.start()
        _run_stream(spark, writer)
        rec.stop()
        dump = jvm.java.io.File(str(tmp_path / "forks.jfr")).toPath()
        rec.dump(dump)
    finally:
        rec.close()
    commands = [
        e.getString("command")
        for e in jvm.jdk.jfr.consumer.RecordingFile.readAllEvents(dump)
    ]
    assert spark.table("d_fork_count_sink").count() > 0
    readlinks = [c for c in commands if c.split()[0].endswith("readlink")]
    assert not readlinks, f"{len(readlinks)} readlink forks, e.g. {readlinks[0]}"


def test_stream_checkpoint_keeps_integrity_files(spark, sf_dir, tmp_path):
    """Every checkpoint file the stream writes keeps its Hadoop ``.crc``
    sibling, and every state ``N.delta`` also keeps Spark's own
    ``N.delta.crc`` checksum file, so switching the checkpoint file
    manager dropped no integrity file.  No rename temp file is left."""
    import re

    from mapreduceimplementation_spark.streaming.windowed import _run_stream

    src = _split_events(spark, sf_dir, tmp_path, n_files=3)
    ckpt = tmp_path / "ckpt"
    _run_stream(
        spark,
        _windowed_count_writer(
            spark, src, "d_ckpt_integrity_sink", maxFilesPerTrigger="1"
        ).option("checkpointLocation", str(ckpt)),
    )
    files = {
        p.relative_to(ckpt).as_posix() for p in ckpt.rglob("*") if p.is_file()
    }
    logged = [
        f
        for f in files
        if re.fullmatch(r"(offsets|commits|sources/0)/\d+", f)
        or f == "metadata"
        or re.fullmatch(r"state/0/(\d+/_metadata/schema|_metadata/metadata)", f)
    ]
    deltas = [f for f in files if re.fullmatch(r"state/0/\d+/\d+\.delta", f)]
    # three data batches, each with its offset, commit and source entry
    for log in ("offsets", "commits", "sources/0"):
        assert {f"{log}/{n}" for n in range(3)} <= files
    assert deltas and any(f.endswith("/3.delta") for f in deltas)
    assert {"metadata", "state/0/_metadata/metadata"} <= files
    assert any(f.endswith("/_metadata/schema") for f in logged)

    def crc(f):
        head, _, name = f.rpartition("/")
        return f"{head}/.{name}.crc" if head else f".{name}.crc"

    for f in logged + deltas:
        assert crc(f) in files, f
    for f in deltas:
        assert f + ".crc" in files, f
        assert crc(f + ".crc") in files, f
    assert not [f for f in files if "tmp" in f.rsplit("/", 1)[-1]]


def test_append_mode_watermark_drops_late_data(spark, sf_dir, tmp_path):
    """Pin the watermark CONTRACT itself: in append mode a row arriving
    after its window's watermark expiry is dropped (by design — bounded
    state has a price, and this is it).  The repo's complete-mode +
    availableNow queries equal batch exactly; this test documents the
    one place streaming legitimately diverges, so nobody mistakes the
    equals-batch gates for 'watermarks are free'."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from mapreduceimplementation_spark.streaming.windowed import (
        _events_stream,
        _run_stream,
        _stop_query,
    )

    d = tmp_path / "late_feed"
    d.mkdir()

    def chunk(path, rows, mtime):
        pdf = pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value"]
        )
        pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)
        os.utime(path, (mtime, mtime))

    # chunk 1 advances event time to 10:00; chunk 2 is a normal row whose
    # batch EVICTS the closed 09:00 window (watermark passed it after
    # chunk 1); chunk 3's 09:00 straggler then finds no state and is
    # dropped.  (The extra middle batch matters: Spark only guarantees
    # the drop once the window's state is gone — a straggler landing in
    # the same batch as the eviction may still be merged.)
    chunk(
        str(d / "part-00.parquet"),
        [(1, "2024-01-01 09:00:10", 1, "view", 1.0),
         (2, "2024-01-01 10:00:00", 1, "view", 1.0)],
        1_000_000,
    )
    chunk(
        str(d / "part-01.parquet"),
        [(4, "2024-01-01 10:00:30", 1, "view", 1.0)],
        1_000_100,
    )
    chunk(
        str(d / "part-02.parquet"),
        [(3, "2024-01-01 09:00:20", 1, "view", 1.0)],
        1_000_200,
    )
    sink = "d_late_drop_sink"
    _stop_query(spark, sink)
    ev = _events_stream(spark, str(d), maxFilesPerTrigger="1")
    agg = (
        ev.withWatermark("ts", "1 minute")
        .groupBy(F.window("ts", "1 minute").alias("win"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("win.start").alias("minute"), "n")
    )
    _run_stream(
        spark,
        agg.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append"),  # append emits only watermark-closed windows
    )
    got = {
        (str(r["minute"]), r["n"]) for r in spark.table(sink).collect()
    }
    # the 09:00 window closed when chunk 1's 10:00 row advanced the
    # watermark, so chunk 2's 09:00:20 straggler was dropped: n=1, not 2
    assert ("2024-01-01 09:00:00", 1) in got
    # batch over the same files counts BOTH 09:00 events — the divergence
    batch = (
        spark.read.parquet(str(d))
        .groupBy(F.date_trunc("minute", "ts").alias("minute"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    bt = {(str(r["minute"]), r["n"]) for r in batch.collect()}
    assert ("2024-01-01 09:00:00", 2) in bt


def test_file_sink_exactly_once_across_restart(spark, sf_dir, tmp_path):
    """Sink-side dual of the checkpoint-recovery gate: an append-mode
    windowed aggregation writing to a PARQUET sink with a checkpoint is
    killed mid-feed and restarted; the committed output (as read through
    the sink's _spark_metadata transaction log) must contain every
    watermark-closed window EXACTLY once, with values equal to the batch
    aggregation — no duplicates from reprocessing, no holes from the
    crash."""
    import shutil

    from pyspark.sql import functions as F

    from mapreduceimplementation_spark.functions.stable import dsum
    from mapreduceimplementation_spark.streaming.windowed import (
        _events_stream,
        _run_stream,
    )

    src = _split_events(spark, sf_dir, tmp_path, n_files=4)
    feed = tmp_path / "feed"
    feed.mkdir()
    parts = sorted(os.listdir(src))
    for p in parts[:2]:
        shutil.copy2(os.path.join(src, p), feed / p)
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")

    def run_once():
        ev = _events_stream(spark, str(feed), maxFilesPerTrigger="1")
        agg = (
            ev.withWatermark("ts", "1 minute")
            .groupBy(F.window("ts", "1 minute").alias("win"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                dsum("value").alias("total_value"),
            )
            .select(
                F.col("win.start").alias("minute"),
                "event_type",
                "n_events",
                "total_value",
            )
        )
        _run_stream(
            spark,
            agg.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append"),
        )

    run_once()
    for p in parts[2:]:
        shutil.copy2(os.path.join(src, p), feed / p)
    run_once()

    emitted = spark.read.parquet(out_dir).toPandas()
    # exactly once: no (minute, type) cell may appear twice
    assert not emitted.duplicated(["minute", "event_type"]).any()
    assert len(emitted) > 0
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("minute", "ts").alias("minute"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
        )
        .toPandas()
    )
    bmap = {
        (r["minute"], r["event_type"]): (r["n_events"], r["total_value"])
        for _, r in batch.iterrows()
    }
    for _, r in emitted.iterrows():
        assert bmap[(r["minute"], r["event_type"])] == (
            r["n_events"],
            r["total_value"],
        ), (r["minute"], r["event_type"])


def test_streaming_left_outer_join_multibatch(spark, sf_dir, tmp_path):
    """D10: NULL rows for unmatched clicks must emit via watermark-driven
    state eviction across microbatches, and matched pairs buffered in one
    batch must still match purchases from later batches — output equals
    the batch LEFT OUTER interval join exactly, nulls included."""
    from pyspark.sql import functions as F

    from mapreduceimplementation_spark.streaming.joins import (
        _LOJ_CLICK_CUTOFF,
        run_left_outer_join,
    )

    path = _split_events(spark, sf_dir, tmp_path)
    out = run_left_outer_join(
        spark, path, sink="d10_multibatch_sink", maxFilesPerTrigger=1
    )
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.where(
        (F.col("event_type") == "click")
        & (F.col("ts") < F.lit(_LOJ_CLICK_CUTOFF).cast("timestamp"))
    ).select(
        F.col("event_id").alias("click_event_id"),
        "user_id",
        F.col("ts").alias("click_ts"),
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_event_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
    )
    twin = clicks.join(
        purchases,
        F.expr(
            "user_id = p_user_id AND purchase_ts >= click_ts "
            "AND purchase_ts <= click_ts + INTERVAL 24 HOURS"
        ),
        "leftOuter",
    ).select(
        "click_event_id",
        "user_id",
        "click_ts",
        "purchase_event_id",
        "purchase_ts",
        (F.unix_micros("purchase_ts") - F.unix_micros("click_ts")).alias(
            "micros_after_click"
        ),
    )
    a = sorted(map(repr, out.collect()))
    b = sorted(map(repr, twin.collect()))
    # sanity: both outcomes must actually occur, or the equality is vacuous
    n_null = out.where(F.col("purchase_event_id").isNull()).count()
    assert 0 < n_null < out.count()
    assert a == b


# ---------------------------------------------------------------------------
# D11 streaming_topk


def test_streaming_topk_shape(spark, sf_dir):
    """≤k rows per minute, ranks are 1..n with counts non-increasing, and
    the per-minute winners really are that minute's modal event types."""
    from mapreduceimplementation_spark.streaming.windowed import _TOPK_K

    out = eng.QUERIES["streaming_topk"](spark, sf_dir).toPandas()
    g = out.groupby("minute")
    assert (g.size() <= _TOPK_K).all()
    for _, grp in g:
        grp = grp.sort_values("rnk")
        assert list(grp["rnk"]) == list(range(1, len(grp) + 1))
        cnts = list(grp["n_events"])
        assert cnts == sorted(cnts, reverse=True)


def test_streaming_full_outer_join_multibatch(spark, sf_dir, tmp_path):
    """D12: NULL rows must emit via watermark-driven eviction from BOTH
    buffers across microbatches — unmatched clicks AND unmatched
    purchases — and the output must equal the batch FULL OUTER interval
    join exactly, nulls included."""
    from pyspark.sql import functions as F

    from mapreduceimplementation_spark.streaming.joins import (
        _FOJ_CUTOFF,
        run_full_outer_join,
    )

    path = _split_events(spark, sf_dir, tmp_path)
    out = run_full_outer_join(
        spark, path, sink="d12_multibatch_sink", maxFilesPerTrigger=1
    )
    ev = load_table(spark, sf_dir, "events")
    cutoff = F.lit(_FOJ_CUTOFF).cast("timestamp")
    clicks = ev.where(
        (F.col("event_type") == "click") & (F.col("ts") < cutoff)
    ).select(
        F.col("event_id").alias("click_event_id"),
        "user_id",
        F.col("ts").alias("click_ts"),
    )
    purchases = ev.where(
        (F.col("event_type") == "purchase") & (F.col("ts") < cutoff)
    ).select(
        F.col("event_id").alias("purchase_event_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
    )
    twin = clicks.join(
        purchases,
        F.expr(
            "user_id = p_user_id AND purchase_ts >= click_ts "
            "AND purchase_ts <= click_ts + INTERVAL 24 HOURS"
        ),
        "fullOuter",
    ).select(
        "click_event_id",
        F.coalesce("user_id", "p_user_id").alias("user_id"),
        "click_ts",
        "purchase_event_id",
        "purchase_ts",
        (F.unix_micros("purchase_ts") - F.unix_micros("click_ts")).alias(
            "micros_after_click"
        ),
    )
    a = sorted(map(repr, out.collect()))
    b = sorted(map(repr, twin.collect()))
    # sanity: all three outcomes must occur, or the equality is vacuous
    n_null_p = out.where(F.col("purchase_event_id").isNull()).count()
    n_null_c = out.where(F.col("click_event_id").isNull()).count()
    assert n_null_p > 0 and n_null_c > 0
    assert n_null_p + n_null_c < out.count()
    assert a == b


def test_streaming_hll_multibatch_registers_merge(spark, sf_dir, tmp_path):
    """D13's monoid claim under microbatching: stream the 3-file chunked
    feed one file per trigger — per-(day, bucket) MAX registers must merge
    across batch boundaries into EXACTLY the single-shot register table,
    and the finalized estimates must equal the registered query's output
    (which the oracle gate certifies against DuckDB at full value)."""
    from pyspark.sql import functions as F

    from mapreduceimplementation_spark.streaming.windowed import (
        hll_finalize,
        run_hll_register_stream,
    )

    path = _split_events(spark, sf_dir, tmp_path)
    multi = run_hll_register_stream(
        spark, path, sink="d13_multibatch_sink", maxFilesPerTrigger=1
    )
    exact = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(F.countDistinct("user_id").alias("exact_users"))
    )
    tuples = lambda df: sorted(tuple(r) for r in df.collect())
    got = hll_finalize(multi, exact)
    assert tuples(got) == tuples(eng.QUERIES["streaming_hll_users"](spark, sf_dir))
    single = run_hll_register_stream(
        spark,
        os.path.join(sf_dir, "events.parquet"),
        sink="d13_single_sink",
    )
    assert tuples(multi) == tuples(single)
    assert all(r["within_3sigma"] for r in got.collect())


def test_streaming_quantile_multibatch_cells_merge(spark, sf_dir, tmp_path):
    """D14's monoid claim under microbatching: stream the 3-file chunked
    feed one file per trigger — per-(day, type, bin) COUNT cells must sum
    across batch boundaries into EXACTLY the single-shot cell table, and
    the finalized audit must equal the registered query's output (which
    the oracle gate certifies against DuckDB at full value)."""
    from pyspark.sql import functions as F

    from mapreduceimplementation_spark.plans.events import (
        quantile_sketch_audit,
    )
    from mapreduceimplementation_spark.streaming.windowed import (
        run_quantile_cell_stream,
    )

    path = _split_events(spark, sf_dir, tmp_path)
    multi = run_quantile_cell_stream(
        spark, path, sink="d14_multibatch_sink", maxFilesPerTrigger=1
    )
    tuples = lambda df: sorted(tuple(r) for r in df.collect())
    single = run_quantile_cell_stream(
        spark,
        os.path.join(sf_dir, "events.parquet"),
        sink="d14_single_sink",
    )
    assert tuples(multi) == tuples(single)
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "value", "event_id"
    )
    got = quantile_sketch_audit(
        multi.groupBy("event_type", "bin").agg(F.sum("cnt").alias("cnt")), ev
    )
    assert tuples(got) == tuples(
        eng.QUERIES["streaming_quantile_sketch"](spark, sf_dir)
    )
    # and the streaming path agrees with the batch sketch B65 exactly
    assert tuples(got) == tuples(
        eng.QUERIES["events_quantile_sketch"](spark, sf_dir)
    )


def test_streaming_cms_multibatch_cells_merge(spark, sf_dir, tmp_path):
    """D15's monoid claim under microbatching: per-(day, d, bucket) COUNT
    cells must sum across batch boundaries into EXACTLY the single-shot
    cell table, and the finalized audit must equal the registered query
    (oracle-certified against DuckDB at full value) and the batch sketch
    C25 exactly."""
    from pyspark.sql import functions as F

    from mapreduceimplementation_spark.operators.textmetrics import (
        cms_finalize,
    )
    from mapreduceimplementation_spark.streaming.windowed import (
        run_cms_cell_stream,
    )

    path = _split_events(spark, sf_dir, tmp_path)
    multi = run_cms_cell_stream(
        spark, path, sink="d15_multibatch_sink", maxFilesPerTrigger=1
    )
    tuples = lambda df: sorted(tuple(r) for r in df.collect())
    single = run_cms_cell_stream(
        spark,
        os.path.join(sf_dir, "events.parquet"),
        sink="d15_single_sink",
    )
    assert tuples(multi) == tuples(single)
    ev = load_table(spark, sf_dir, "events").select("user_id")
    got = cms_finalize(
        multi.groupBy("d", "bucket").agg(F.sum("cnt").alias("cell")), ev
    )
    assert tuples(got) == tuples(
        eng.QUERIES["streaming_cms_topk"](spark, sf_dir)
    )
    assert tuples(got) == tuples(
        eng.QUERIES["heavy_hitters_cms"](spark, sf_dir)
    )
    # CMS never undercounts
    assert all(r["cms_n"] >= r["exact_n"] for r in got.collect())


def test_streaming_asof_join_multibatch_equals_batch(spark, sf_dir, tmp_path):
    """D16: the chained stateful pipeline (interval join -> windowed
    argmax) under maxFilesPerTrigger=1 — a click buffered in batch 1 must
    win the argmax for a purchase arriving batches later, and windows must
    finalize across microbatch boundaries; output equals the batch as-of
    join (latest click per purchase, event_id tie-break) exactly."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from mapreduceimplementation_spark.streaming.joins import (
        _ASOF_PURCHASE_CUTOFF,
        run_asof_join,
    )

    path = _split_events(spark, sf_dir, tmp_path)
    out = run_asof_join(spark, path, sink="d16_multibatch_sink", maxFilesPerTrigger=1)

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_event_id"),
        "user_id",
        F.col("ts").alias("click_ts"),
    )
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .where(F.col("ts") < F.lit(_ASOF_PURCHASE_CUTOFF).cast("timestamp"))
        .select(
            F.col("event_id").alias("purchase_event_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
    )
    w = Window.partitionBy("purchase_event_id").orderBy(
        F.col("click_ts").desc(), F.col("click_event_id").desc()
    )
    batch = (
        clicks.join(
            purchases,
            (F.col("user_id") == F.col("p_user_id"))
            & (F.col("purchase_ts") >= F.col("click_ts"))
            & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 24 HOURS")),
        )
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "purchase_event_id",
            "user_id",
            "purchase_ts",
            "click_event_id",
            "click_ts",
            (F.unix_micros("purchase_ts") - F.unix_micros("click_ts")).alias(
                "micros_since_click"
            ),
        )
    )
    a = sorted(map(tuple, out.collect()))
    b = sorted(map(tuple, batch.collect()))
    assert a == b
    assert len(a) > 0


def test_ab_stream_late_conversion_upserts_user(spark, sf_dir, tmp_path):
    """D17: a user exposed in batch 1 who converts in batch 2 must end
    converted with full revenue — the update-mode agg re-emits the
    COMPLETE per-user value and the upsert replaces the stale row; and
    the final readout equals the batch B76 twin exactly."""
    import datetime as dt
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    import mapreduceimplementation_spark as eng
    from mapreduceimplementation_spark.plans.events import ab_arm_readout
    from mapreduceimplementation_spark.streaming.incremental import run_ab_stream

    def chunk(path, rows, mtime):
        t = pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array([r[3] for r in rows], pa.string()),
                "value": pa.array([r[4] for r in rows], pa.float64()),
                "props": pa.array(["{}"] * len(rows), pa.string()),
            }
        )
        pq.write_table(t, path)
        os.utime(path, (mtime, mtime))

    m = dt.datetime(2024, 1, 1, 12, 0)

    def ts(sec):
        return m + dt.timedelta(seconds=sec)

    # batch 1: users 1-4 exposed, user 2 already converts (1.25)
    chunk(
        str(tmp_path / "chunk-00.parquet"),
        [
            (1, ts(1), 1, "view", 0.0),
            (2, ts(2), 2, "purchase", 1.25),
            (3, ts(3), 3, "view", 0.0),
            (4, ts(4), 4, "click", 0.0),
        ],
        1_000_000,
    )
    # batch 2: user 1 converts LATE (9.99) and again (0.01); user 5 appears
    chunk(
        str(tmp_path / "chunk-01.parquet"),
        [
            (5, ts(60), 1, "purchase", 9.99),
            (6, ts(61), 1, "purchase", 0.01),
            (7, ts(62), 5, "view", 0.0),
        ],
        1_000_001,
    )
    per_user, n_batches = run_ab_stream(spark, sf_dir, feed_dir=str(tmp_path))
    assert n_batches == 2
    rows = {r["user_id"]: r for r in per_user.collect()}
    assert sorted(rows) == [1, 2, 3, 4, 5]
    assert rows[1]["converted"] == 1 and rows[1]["value_micro"] == 10_000_000
    assert rows[2]["converted"] == 1 and rows[2]["value_micro"] == 1_250_000
    assert rows[3]["converted"] == 0 and rows[5]["converted"] == 0

    # the arm readout over the stream state == the batch twin on the
    # same little table
    d = str(tmp_path / "as_table")
    spark.read.parquet(str(tmp_path / "chunk-*.parquet")).write.parquet(
        d + "/events.parquet"
    )
    got = {r["variant"]: r for r in ab_arm_readout(per_user).collect()}
    want = {
        r["variant"]: r
        for r in eng.QUERIES["events_ab_test_metrics"](spark, d).collect()
    }
    assert got.keys() == want.keys()
    for v in want:
        assert got[v].asDict() == want[v].asDict(), v


def test_streaming_transition_matrix_multibatch_equals_batch(
    spark, sf_dir, tmp_path
):
    """D18: the three-stateful-operator pipeline (interval self-join ->
    windowed argmax -> chained windowed count) under maxFilesPerTrigger=1
    — a prev-event buffered in batch 1 must still be the lag() winner for
    a next-event arriving batches later, and the chained count windows
    must finalize across microbatch boundaries; output equals the batch
    lag-with-horizon matrix exactly."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from mapreduceimplementation_spark.streaming.joins import (
        _TRM_CUTOFF,
        _TRM_HORIZON_H,
        run_transition_matrix,
    )

    path = _split_events(spark, sf_dir, tmp_path)
    out = run_transition_matrix(
        spark, path, sink="d18_multibatch_sink", maxFilesPerTrigger=1
    )

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    batch = (
        ev.select(
            "user_id",
            "ts",
            "event_type",
            F.lag("event_type").over(w).alias("prev_type"),
            F.lag("ts").over(w).alias("prev_ts"),
        )
        .where(
            F.col("prev_type").isNotNull()
            & (F.col("ts") < F.lit(_TRM_CUTOFF).cast("timestamp"))
            & (
                F.col("prev_ts")
                >= F.col("ts") - F.expr(f"INTERVAL {_TRM_HORIZON_H} HOURS")
            )
        )
        .groupBy(
            F.window("ts", "24 hours").alias("w"),
            "prev_type",
            F.col("event_type").alias("next_type"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("day"), "prev_type", "next_type", "n")
    )
    a = sorted(map(tuple, out.collect()))
    b = sorted(map(tuple, batch.collect()))
    assert a == b
    assert len(a) > 0
    # the matrix is genuinely 2-D: several prev types transition to
    # several next types
    assert len({(r[1], r[2]) for r in a}) > 3


def test_streaming_transition_state_multibatch_and_linearity(
    spark, sf_dir, tmp_path
):
    """D19: the applyInPandasWithState lag under maxFilesPerTrigger=1 — a
    user's last event in batch 1 must be the lag source for their first
    event in batch 2 (the cross-batch state carry), and the result equals
    the full batch lag-with-horizon matrix with NO cutoff (the state path
    covers the trailing days D18 must exclude)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from mapreduceimplementation_spark.streaming.joins import (
        _TRM_HORIZON_H,
        run_transition_matrix_state,
    )

    path = _split_events(spark, sf_dir, tmp_path)
    out = run_transition_matrix_state(
        spark, path, sink="d19_multibatch_sink", maxFilesPerTrigger=1
    )

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    batch = (
        ev.select(
            "ts",
            "event_type",
            F.lag("event_type").over(w).alias("prev_type"),
            F.lag("ts").over(w).alias("prev_ts"),
        )
        .where(
            F.col("prev_type").isNotNull()
            & (
                F.col("prev_ts")
                >= F.col("ts") - F.expr(f"INTERVAL {_TRM_HORIZON_H} HOURS")
            )
        )
        .groupBy(
            F.window("ts", "24 hours").alias("w"),
            "prev_type",
            F.col("event_type").alias("next_type"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("day"), "prev_type", "next_type", "n")
    )
    a = sorted(map(tuple, out.collect()))
    b = sorted(map(tuple, batch.collect()))
    assert a == b
    assert len(a) > 0
    # linearity evidence: total transitions == total in-horizon lag pairs
    # (one per event with an in-horizon predecessor, never pair-expanded)
    n_out = sum(r[3] for r in a)
    n_lag = batch.agg(F.sum("n")).collect()[0][0]
    assert n_out == n_lag


def test_transition_state_checkpoint_recovery(spark, sf_dir, tmp_path):
    """D19 + crash.go's property on CUSTOM Python state: kill the
    applyInPandasWithState query mid-feed, restart from its checkpoint,
    feed the rest — the restored GroupState (each user's last event,
    pickled in the state store) must bridge the crash: a user's last
    pre-crash event must still be the lag source for their first
    post-crash event, and the union of both runs' emissions must equal
    the one-shot batch lag matrix."""
    import os
    import shutil
    from collections import Counter

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from mapreduceimplementation_spark.streaming.joins import (
        _TRM_HORIZON_H,
        run_transition_matrix_state,
    )

    from mapreduceimplementation_spark.streaming.joins import (
        transition_state_stream,
    )

    src = _split_events(spark, sf_dir, tmp_path, n_files=4)
    feed = tmp_path / "trs_feed"
    feed.mkdir()
    parts = sorted(os.listdir(src))
    for p in parts[:2]:
        shutil.copy2(os.path.join(src, p), feed / p)
    ckpt = str(tmp_path / "trs_ckpt")
    out_dir = str(tmp_path / "trs_out")

    def run_once():
        q = (
            transition_state_stream(spark, str(feed), maxFilesPerTrigger="1")
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()  # run 1: half the feed, then the query is gone
    rows1 = [tuple(r) for r in spark.read.parquet(out_dir).collect()]
    for p in parts[2:]:
        shutil.copy2(os.path.join(src, p), feed / p)
    run_once()  # run 2: restarts from the checkpoint (state + offsets)
    rows_all = [tuple(r) for r in spark.read.parquet(out_dir).collect()]
    rows2 = list((Counter(rows_all) - Counter(rows1)).elements())
    got = Counter(rows_all)

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    batch = (
        ev.select(
            "ts",
            "event_type",
            F.lag("event_type").over(w).alias("prev_type"),
            F.lag("ts").over(w).alias("prev_ts"),
        )
        .where(
            F.col("prev_type").isNotNull()
            & (
                F.col("prev_ts")
                >= F.col("ts") - F.expr(f"INTERVAL {_TRM_HORIZON_H} HOURS")
            )
        )
        .select(
            F.window("ts", "24 hours")["start"].alias("day"),
            "prev_type",
            F.col("event_type").alias("next_type"),
        )
    )
    want = Counter(tuple(r) for r in batch.collect())
    assert got == want
    # both runs really emitted (the crash split work across them)
    assert rows1 and rows2


def test_streaming_funnel_multibatch_cross_stage(spark, sf_dir, tmp_path):
    """D20: under maxFilesPerTrigger=1, a view in an early batch must gate
    a click arriving batches later (cross-batch three-timestamp state),
    stages emit at most once per user, and the final counts equal the
    batch funnel B23."""
    from collections import Counter

    from mapreduceimplementation_spark.streaming.sessionize import (
        run_funnel_stream,
    )

    path = _split_events(spark, sf_dir, tmp_path)
    out = {
        r["stage"]: r["n_users"]
        for r in run_funnel_stream(
            spark, path, sink="d20_multibatch_sink", maxFilesPerTrigger=1
        ).collect()
    }
    batch = {
        r["stage"]: r["n_users"]
        for r in eng.QUERIES["events_funnel"](spark, sf_dir).collect()
    }
    assert out == batch
    assert out["1_view"] >= out["2_click"] >= out["3_purchase"]
    assert out["3_purchase"] > 0
    # exactly-once per (user, stage) in the raw sink
    sink_rows = [
        (r["user_id"], r["stage"])
        for r in spark.table("d20_multibatch_sink").collect()
    ]
    dupes = [k for k, c in Counter(sink_rows).items() if c > 1]
    assert not dupes, dupes


def test_streaming_retention_multibatch_exactly_once(spark, sf_dir, tmp_path):
    """D21: under maxFilesPerTrigger=1, a user's cohort fixed in batch 1
    must label their activity rows in later batches, each (user, day)
    emits exactly once across batches, and the rollup equals B24."""
    from collections import Counter

    from mapreduceimplementation_spark.streaming.sessionize import (
        run_retention_stream,
    )

    path = _split_events(spark, sf_dir, tmp_path)
    out = {
        (r["cohort_day"], r["day_offset"]): r["n_users"]
        for r in run_retention_stream(
            spark, path, sink="d21_multibatch_sink", maxFilesPerTrigger=1
        ).collect()
    }
    batch = {
        (r["cohort_day"], r["day_offset"]): r["n_users"]
        for r in eng.QUERIES["events_retention"](spark, sf_dir).collect()
    }
    assert out == batch
    # day-0 cell of each cohort counts the whole cohort: it must be the
    # max across that cohort's offsets
    for (cd, off), n in out.items():
        assert n <= out[(cd, 0)]


def test_streaming_scd2_multibatch_changelog_compaction(spark, sf_dir, tmp_path):
    """D22: under maxFilesPerTrigger=1, runs spanning batch boundaries must
    close with the NEXT batch's changing event, the raw sink must contain
    superseded open-run snapshots (proving a real changelog across >1
    microbatch), compaction must keep exactly one row per (user, version),
    and the result must equal the batch dimension B69 exactly."""
    from collections import Counter

    from mapreduceimplementation_spark.streaming.sessionize import (
        run_scd2_stream,
    )

    def keyed(df):
        return sorted(
            (
                int(r["user_id"]),
                int(r["version"]),
                r["state"],
                r["valid_from"],
                r["valid_to"],
                bool(r["is_current"]),
                int(r["n_events"]),
            )
            for r in df.collect()
        )

    path = _split_events(spark, sf_dir, tmp_path)
    out = run_scd2_stream(spark, path, sink="d22_multibatch_sink",
                          maxFilesPerTrigger=1)
    final = keyed(out)
    batch = keyed(eng.QUERIES["events_scd2_dimension"](spark, sf_dir))
    assert final == batch
    # the raw changelog must be bigger than the compacted dimension
    # (open-run snapshots re-emitted across batches) ...
    raw = [
        (r["user_id"], r["version"]) for r in
        spark.table("d22_multibatch_sink").collect()
    ]
    assert len(raw) > len(final)
    # ... and versions re-emitted across batches must compact to one row
    assert max(Counter(raw).values()) > 1
    # exactly one current version per user, and it's the max version
    cur = {}
    for uid, ver, _s, _vf, vt, is_cur, _n in final:
        if is_cur:
            assert uid not in cur
            assert vt is None
            cur[uid] = ver
    top = {}
    for uid, ver, *_ in final:
        top[uid] = max(top.get(uid, 0), ver)
    assert cur == top


def test_streaming_anomaly_multibatch_equals_batch(spark, sf_dir):
    """D23: the anomaly scores computed over the stream-maintained daily
    cells equal the batch detector B26 exactly, the stream ran more than
    one merge, and at least one day cell straddled a microbatch boundary
    (proving the upsert REPLACED a partial day count — the retrospective
    correctness claim)."""
    from mapreduceimplementation_spark.plans.events import anomaly_from_daily
    from mapreduceimplementation_spark.streaming.incremental import (
        run_anomaly_stream,
    )

    daily, n_batches = run_anomaly_stream(spark, sf_dir)
    assert n_batches >= 2
    out = sorted(map(tuple, anomaly_from_daily(daily).collect()))
    batch = sorted(
        map(tuple, eng.QUERIES["events_anomaly"](spark, sf_dir).collect())
    )
    assert out == batch and len(out) > 0
    # the chronological 4-chunk feed cuts mid-day: some (day, type) cell
    # must therefore appear in more than one microbatch; if the upsert
    # kept the FIRST partial value the totals could not match the batch
    # twin — re-derive the straddle to make the claim explicit
    ev = load_table(spark, sf_dir, "events").toPandas()
    ev = ev.sort_values(["ts"]).reset_index(drop=True)
    k = (len(ev) + 3) // 4
    days_per_chunk = [
        set(ev["ts"][i * k : (i + 1) * k].dt.floor("D")) for i in range(4)
    ]
    straddled = set.union(*(a & b for a, b in zip(days_per_chunk, days_per_chunk[1:])))
    assert straddled, "feed must cut at least one day across chunks"


def test_streaming_ewma_multibatch_equals_batch(spark, sf_dir, tmp_path):
    """D24: under maxFilesPerTrigger=1, day closure must cross batch
    boundaries (a day open in batch 1 closed by batch 2's first later
    day), the raw changelog must contain superseded open-day snapshots,
    and the compacted result must equal B83 exactly — including the
    bit-exact dyadic ewma doubles."""
    from mapreduceimplementation_spark.streaming.incremental import (
        run_ewma_stream,
    )

    path = _split_events(spark, sf_dir, tmp_path)
    out = run_ewma_stream(spark, path, sink="d24_multibatch_sink",
                          maxFilesPerTrigger=1)
    key = lambda r: (r["event_type"], r["day"])
    final = sorted(
        (key(r), int(r["c"]), float(r["ewma"]), bool(r["spike"]))
        for r in out.collect()
    )
    batch = sorted(
        (key(r), int(r["c"]), float(r["ewma"]), bool(r["spike"]))
        for r in eng.QUERIES["events_ewma_daily"](spark, sf_dir).collect()
    )
    assert final == batch and len(final) > 0
    raw = spark.table("d24_multibatch_sink").collect()
    assert len(raw) > len(final)  # superseded snapshots existed
    assert any(not r["closed"] for r in raw) and any(r["closed"] for r in raw)


def test_d24_fir_full_k_tap_buffer_at_33_plus_days():
    """D24 regression pin (ADVICE r7): the state buffer must retain K
    completed days, not K-1 — _d24_fir's s_prev (the spike forecast)
    spans K taps with the oldest at weight 2^0, exactly batch B83's
    lag(S).  Replays >=33 event-days through the retention rule and
    checks s_prev against the batch FIR (coalesce-0 semantics), then a
    crafted near-threshold day where the K-1 buffer provably flips the
    spike verdict."""
    from mapreduceimplementation_spark.streaming.incremental import (
        _D24_K as K,
        _d24_fir,
    )

    # 40 closed days; the last K are crafted so the 32-tap forecast sum
    # lands exactly on a multiple of 2^(K-1): oldest-in-window count 2
    # (weight 2^0), then thirty 1s (weights 2^1..2^30), newest 0
    # (weight 2^31) -> s_prev = 2 + (2^31 - 2) = 2^31.
    counts = [5] * 8 + [2] + [1] * 30 + [0]
    assert len(counts) == 40 >= K + 1
    buf: list[int] = []
    for c in counts:
        buf = (buf + [c])[-K:]  # the fixed retention rule
    assert buf == counts[-K:]
    # batch twin: lag(S) = sum_j coalesce(lag(c, j), 0) << (K-1-j)
    ref_prev = sum(counts[-1 - j] << (K - 1 - j) for j in range(K))
    s, s_prev = _d24_fir(buf, 7)
    assert s_prev == ref_prev == 1 << (K - 1)
    assert s == sum((counts + [7])[-1 - j] << (K - 1 - j) for j in range(K))
    # near-threshold probe: c = 1 gives c << (K-1) == s_prev exactly ->
    # spike False on the full buffer; the old K-1 retention drops the
    # 2^0 tap (worth 2 here), yielding s_prev - 2 and flipping it True
    _, s_prev_buggy = _d24_fir(buf[-(K - 1):], 7)
    assert s_prev_buggy == s_prev - 2
    c_probe = 1
    assert not ((c_probe << (K - 1)) > s_prev)       # correct verdict
    assert (c_probe << (K - 1)) > s_prev_buggy       # K-1 buffer flips


def test_streaming_session_paths_multibatch_equals_batch(spark, sf_dir, tmp_path):
    """D25: under maxFilesPerTrigger=1, a session spanning a batch
    boundary must keep ONE path (its first events fixed in the earlier
    batch), the raw changelog must contain superseded open-session
    snapshots, and the compacted top-paths report must equal B77
    exactly (counts, users, ppm shares, frontier order)."""
    from mapreduceimplementation_spark.streaming.sessionize import (
        run_session_paths_stream,
    )

    path = _split_events(spark, sf_dir, tmp_path)
    out = [
        (r["path"], r["n_sessions"], r["n_users"], r["share_ppm"])
        for r in run_session_paths_stream(
            spark, path, sink="d25_multibatch_sink", maxFilesPerTrigger=1
        ).collect()
    ]
    batch = [
        (r["path"], r["n_sessions"], r["n_users"], r["share_ppm"])
        for r in eng.QUERIES["events_session_paths"](spark, sf_dir).collect()
    ]
    assert out == batch and len(out) > 0
    raw = spark.table("d25_multibatch_sink").collect()
    compacted = {(r["user_id"], r["session_seq"]) for r in raw}
    assert len(raw) > len(compacted)  # superseded snapshots existed
    assert any(not r["closed"] for r in raw) and any(r["closed"] for r in raw)
