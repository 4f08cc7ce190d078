"""Generic-engine tests: the combiner (SURVEY.md §2 A6, MapReduce paper
§4.3) and the reduce contract."""

from __future__ import annotations

import mapreduceimplementation_spark as eng
from mapreduceimplementation_spark.operators.mapreduce import (
    _KV_SCHEMA,
    _reduce_batches,
    map_reduce,
    map_stage,
    wc_map,
    wc_reduce,
)
from mapreduceimplementation_spark.sources.tables import load_table

eng.load_all_operators()


def _sum_app(_key: str, values: list[str]) -> str:
    """Summing wordcount (the paper's combiner-safe formulation)."""
    return str(sum(int(v) for v in values))


def test_combiner_preserves_output(spark, sf_dir):
    """wc-with-combiner == native wordcount == wc-without-combiner."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    combined = {
        (r["key"], r["value"])
        for r in map_reduce(
            docs, wc_map, _sum_app,
            key_col="doc_id", value_col="text", combine_fn=_sum_app,
        ).collect()
    }
    native = {
        (r["word"], str(r["cnt"]))
        for r in eng.QUERIES["mr_wordcount"](spark, sf_dir).collect()
    }
    assert combined == native


def test_combiner_shrinks_shuffle_volume(spark, sf_dir):
    """Rows entering the exchange must collapse to (distinct keys per map
    partition), far below the raw exploded pair count."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    raw = map_stage(docs, wc_map, key_col="doc_id", value_col="text").count()
    combined = map_stage(
        docs, wc_map, key_col="doc_id", value_col="text", combine_fn=_sum_app
    ).count()
    assert combined < raw / 10, (combined, raw)


def test_reduce_runs_once_per_distinct_key(spark, sf_dir):
    """reduce_fn is called exactly once for each distinct map-output key."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    calls = spark.sparkContext.accumulator(0)

    def counting_reduce(key: str, values: list[str]) -> str:
        calls.add(1)
        return wc_reduce(key, values)

    out = map_reduce(
        docs, wc_map, counting_reduce, key_col="doc_id", value_col="text"
    ).collect()
    distinct = (
        map_stage(docs, wc_map, key_col="doc_id", value_col="text")
        .select("key")
        .distinct()
        .count()
    )
    assert calls.value == distinct == len(out) > 0


def test_map_reduce_empty_input(spark):
    empty = spark.createDataFrame([], "key string, value string")
    out = map_reduce(empty, wc_map, wc_reduce)
    assert out.schema == _KV_SCHEMA
    assert out.count() == 0


def test_n_reduce_does_not_change_output(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def run(**kw):
        out = map_reduce(
            docs, wc_map, wc_reduce, key_col="doc_id", value_col="text", **kw
        )
        return {(r["key"], r["value"]) for r in out.collect()}

    assert run(n_reduce=3) == run()


def test_reduce_kernel_empty_batch_and_null_key():
    """The reduce kernel, called directly on Arrow batches: an empty batch
    gives an empty batch and the batch after it is still reduced; a null
    key reaches reduce_fn as None and comes back null."""
    import pyarrow as pa

    def batch(keys, values):
        return pa.RecordBatch.from_arrays(
            [pa.array(keys, type=pa.string()), pa.array(values, type=pa.list_(pa.string()))],
            names=["key", "values"],
        )

    out = list(
        _reduce_batches(
            lambda k, vs: f"{k}:{len(vs)}",
            iter([batch([], []), batch(["a", None], [["1", "1"], ["x"]])]),
        )
    )
    assert [b.num_rows for b in out] == [0, 2]
    assert out[1].schema.names == ["key", "value"]
    assert out[1].column(0).to_pylist() == ["a", None]
    assert out[1].column(1).to_pylist() == ["a:2", "None:1"]
