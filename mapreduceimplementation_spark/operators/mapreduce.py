"""Generic MapReduce engine API (SURVEY.md §2 A6).

The reference exposes a user-supplied ``Map(key, value) -> [(k, v)]`` /
``Reduce(key, [values]) -> value`` contract executed by a coordinator +
workers over RPC with hash partitioning and fault-tolerant re-execution
(reference: src/mr/worker.go Map/Reduce plugin loading, src/mr/coordinator.go
task queues).  Spark supplies the coordinator, shuffle, and fault tolerance;
this module supplies the same *programming contract* on top of Arrow-batched
DataFrame primitives:

- map phase:    ``mapInPandas``  (vectorized, no per-row Python overhead)
- shuffle:      ``groupBy(key)`` hash exchange == mr's ihash(key) % nReduce,
                gathering each key's values with ``collect_list``
- reduce phase: ``mapInArrow`` over whole (key, values) batches, calling
                ``reduce_fn`` once per row — the reduce worker's in-process
                loop over its sorted keys (src/mr/worker.go)

Python functions only run where the user *wrote* Python — built-in apps
(word count, inverted index) have native codegen plans in ``mrcore.py``;
tests assert both paths agree (the reference's test-mr.sh golden check).
"""

from __future__ import annotations

import functools
from collections.abc import Callable, Iterable, Iterator

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mapreduceimplementation_spark.registry import register
from mapreduceimplementation_spark.sources.tables import load_table

MapFn = Callable[[str, str], Iterable[tuple[str, str]]]
ReduceFn = Callable[[str, list[str]], str]

_KV_SCHEMA = T.StructType(
    [T.StructField("key", T.StringType()), T.StructField("value", T.StringType())]
)


def map_stage(
    df: DataFrame,
    map_fn: MapFn,
    key_col: str = "key",
    value_col: str = "value",
    combine_fn: ReduceFn | None = None,
) -> DataFrame:
    """The map (+ optional combine) stage: the rows that enter the shuffle.

    With ``combine_fn`` (MapReduce paper §4.3), map output is pre-aggregated
    **per input partition** before the exchange: a dict of key → values is
    folded batch-by-batch, each key's list collapsed through ``combine_fn``
    as soon as it exceeds one element.  Memory is bounded by the number of
    DISTINCT keys per partition (the same bound the reference's sorted
    intermediate files give), not by the raw pair count — and a hot key
    ships one combined row per map partition instead of its full pair
    stream, which is the difference between a shuffle that scales and one
    that dies on the first skewed key at 100x.
    """
    src = df.select(
        F.col(key_col).cast("string").alias("key"),
        F.col(value_col).cast("string").alias("value"),
    )

    def _map_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if combine_fn is None:
            for pdf in batches:
                keys: list[str] = []
                vals: list[str] = []
                for k, v in zip(pdf["key"], pdf["value"]):
                    for ok, ov in map_fn(k if k is not None else "", v or ""):
                        keys.append(ok)
                        vals.append(ov)
                yield pd.DataFrame({"key": keys, "value": vals})
            return
        acc: dict[str, list[str]] = {}
        for pdf in batches:
            for k, v in zip(pdf["key"], pdf["value"]):
                for ok, ov in map_fn(k if k is not None else "", v or ""):
                    bucket = acc.setdefault(ok, [])
                    bucket.append(ov)
                    if len(bucket) >= 64:  # eager fold keeps lists tiny
                        acc[ok] = [combine_fn(ok, bucket)]
            for k, vals in acc.items():
                if len(vals) > 1:
                    acc[k] = [combine_fn(k, vals)]
        keys = sorted(acc)
        for i in range(0, len(keys), 10_000):
            chunk = keys[i : i + 10_000]
            yield pd.DataFrame(
                {"key": chunk, "value": [acc[k][0] for k in chunk]}
            )

    return src.mapInPandas(_map_batches, schema=_KV_SCHEMA)


def _reduce_batches(
    reduce_fn: ReduceFn, batches: Iterator[pa.RecordBatch]
) -> Iterator[pa.RecordBatch]:
    """mapInArrow kernel of the reduce phase: each (key, values) row of a
    batch becomes (key, reduce_fn(key, values)).  The key column passes
    through as it came (a null key reaches ``reduce_fn`` as None), and the
    value column takes the key column's Arrow type, since Spark may hand
    strings as either ``string`` or ``large_string``."""
    for batch in batches:
        keys = batch.column(0)
        out = [
            reduce_fn(k, vs)
            for k, vs in zip(keys.to_pylist(), batch.column(1).to_pylist())
        ]
        yield pa.RecordBatch.from_arrays(
            [keys, pa.array(out, type=keys.type)], names=["key", "value"]
        )


def map_reduce(
    df: DataFrame,
    map_fn: MapFn,
    reduce_fn: ReduceFn,
    key_col: str = "key",
    value_col: str = "value",
    n_reduce: int | None = None,
    combine_fn: ReduceFn | None = None,
) -> DataFrame:
    """Run a reference-style MapReduce job over (key, value) rows.

    ``map_fn(key, value)`` yields (k, v) string pairs; ``reduce_fn(k, [v...])``
    returns the output string for k — the exact signatures of the reference's
    plugin apps (src/mrapps/wc.go: Map/Reduce).  ``reduce_fn`` runs exactly
    once per distinct key.

    Memory: a key's whole value list is held as one array (in the
    aggregation buffer and in the reduce batch), the same per-key bound the
    per-group pandas frame had.  Values reach ``reduce_fn`` in no guaranteed
    order, as in the reference, and a null value emitted by ``map_fn`` is
    dropped by ``collect_list`` (the contract emits strings).

    ``combine_fn``, if given, must be associative/commutative and its output
    must be acceptable as a ``reduce_fn`` input value (the MapReduce-paper
    combiner contract — e.g. a summing wordcount qualifies, the reference's
    len(values) wc.go reducer does not).
    """
    mapped = map_stage(df, map_fn, key_col, value_col, combine_fn)
    if n_reduce is not None:
        # honor the reference's explicit nReduce partitioning request
        mapped = mapped.repartition(n_reduce, "key")
    return (
        mapped.groupBy("key")
        .agg(F.collect_list("value").alias("values"))
        .mapInArrow(functools.partial(_reduce_batches, reduce_fn), _KV_SCHEMA)
    )


# ---------------------------------------------------------------------------
# Reference apps expressed against the generic engine (used by parity tests
# and exposed as a driver query so the engine itself is correctness-gated).

def wc_map(_key: str, contents: str) -> Iterable[tuple[str, str]]:
    """Reference src/mrapps/wc.go Map: one ("word", "1") per occurrence."""
    word = []
    for ch in contents:
        if ch.isascii() and ch.isalpha():
            word.append(ch)
        elif word:
            yield "".join(word), "1"
            word = []
    if word:
        yield "".join(word), "1"


def wc_reduce(_key: str, values: list[str]) -> str:
    """Reference src/mrapps/wc.go Reduce: count of occurrences."""
    return str(len(values))


def indexer_map(doc: str, contents: str) -> Iterable[tuple[str, str]]:
    """Reference src/mrapps/indexer.go Map: distinct words -> doc name."""
    seen = set()
    for w, _one in wc_map(doc, contents):
        if w not in seen:
            seen.add(w)
            yield w, doc


def indexer_reduce(key: str, values: list[str]) -> str:
    """Reference src/mrapps/indexer.go Reduce: "<n> <sorted,docs>"."""
    values = sorted(values)
    return f"{len(values)} {','.join(values)}"


@register(
    "mr_generic_wc",
    oracle="""
    SELECT w AS key, CAST(count(*) AS VARCHAR) AS value
    FROM (
        SELECT unnest(regexp_split_to_array(text, '[^A-Za-z]+')) AS w
        FROM documents
    )
    WHERE w <> ''
    GROUP BY w
    """,
)
def mr_generic_wc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word count executed through the generic Arrow-batched engine — gates
    that the user-pluggable path produces byte-identical output to the
    native plan (reference's test-mr.sh wc golden-file check)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return map_reduce(docs, wc_map, wc_reduce, key_col="doc_id", value_col="text")
