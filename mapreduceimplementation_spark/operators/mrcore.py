"""MapReduce-core operators: reference-parity word count, inverted index,
grep, per-file counts, distributed sort (SURVEY.md §2 A1–A5).

These are the reference's mrapps re-expressed as declarative DataFrame
plans: Catalyst gives partial (map-side) aggregation for the counts —
exactly the combiner optimization the MapReduce paper describes — and a
range-partitioned exchange for the global sort (the TeraSort shape).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mapreduceimplementation_spark.functions.text import WORD_SEP_RE, word_tokens
from mapreduceimplementation_spark.registry import register
from mapreduceimplementation_spark.sources.tables import load_table
from mapreduceimplementation_spark.sources.text import (
    materialize_text_corpus,
    read_text_dir,
)

# Shared oracle fragment: one row per (doc_id, word occurrence), wc.go split
# semantics (runs of ASCII letters).
_SQL_WORDS = """
    SELECT doc_id, w AS word
    FROM (
        SELECT doc_id, unnest(regexp_split_to_array(text, '[^A-Za-z]+')) AS w
        FROM documents
    )
    WHERE w <> ''
"""


@register(
    "mr_wordcount",
    oracle=f"""
    SELECT word, count(*) AS cnt
    FROM ({_SQL_WORDS})
    GROUP BY word
    """,
)
def mr_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word count — parity with reference src/mrapps/wc.go (Map: split on
    non-letters emit (w,1); Reduce: count).  Map-side combine comes from
    Catalyst partial aggregation; one shuffle on word."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return (
        word_tokens(docs)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@register(
    "mr_wordcount_text",
    oracle=f"""
    SELECT word, count(*) AS cnt
    FROM ({_SQL_WORDS})
    GROUP BY word
    """,
)
def mr_wordcount_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word count over WHOLE TEXT FILES — the reference's actual ingestion
    path (coordinator reads pg-*.txt and hands (filename, contents) to Map;
    src/mr/coordinator.go MakeCoordinator(files...)).  The wholetext source
    reads one file per row, fully distributed; the corpus is materialized
    from documents.parquet once as a test fixture (sources/text.py).  The
    oracle is the SAME SQL as mr_wordcount — files and parquet must agree
    word-for-word, the reference's golden-output check."""
    corpus = materialize_text_corpus(sf_dir)
    docs = read_text_dir(spark, corpus)
    return word_tokens(docs).groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))


@register(
    "mr_inverted_index",
    oracle=f"""
    SELECT word,
           count(DISTINCT doc_id) AS df,
           array_to_string(list_sort(list(DISTINCT doc_id)), ',') AS docs
    FROM ({_SQL_WORDS})
    GROUP BY word
    """,
)
def mr_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index — parity with reference src/mrapps/indexer.go (Map:
    distinct words per doc → (w, doc); Reduce: "<count> <sorted docs>").
    Emitted as typed columns (df, comma-joined sorted doc list).

    ONE exchange: collect_set dedups (word, doc) pairs in the map-side
    partial aggregate, so a separate .distinct() shuffle before the
    groupBy would be pure waste — the posting list is built and deduped
    in the same aggregation that counts it."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return (
        word_tokens(docs)
        .select("word", "doc_id")
        .groupBy("word")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("ds"))
        .select(
            "word",
            F.size("ds").cast("long").alias("df"),
            F.array_join("ds", ",").alias("docs"),
        )
    )


@register(
    "mr_grep",
    oracle=r"""
    SELECT doc_id, source,
           CAST(length(regexp_extract_all(text, 'spark')) AS BIGINT) AS n_hits
    FROM documents
    WHERE regexp_matches(text, 'spark')
    """,
)
def mr_grep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed grep (MapReduce paper §2.3 example): emit matching docs
    with true match counts.  The registered query fixes the pattern for
    the oracle; the reference's grep is parameterized, so the real API is
    ``grep(df, pattern)`` below — this entry is grep(documents, 'spark')."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    return grep(docs, "spark")


def grep(df: DataFrame, pattern: str, text_col: str = "text") -> DataFrame:
    """Parameterized distributed grep over any DataFrame with a text
    column: rows matching the Java regex ``pattern``, with true match
    counts.  The rlike filter is evaluated in the scan stage; only
    matching rows flow downstream (no shuffle at all)."""
    other = [c for c in df.columns if c != text_col]
    return df.where(F.col(text_col).rlike(pattern)).select(
        *other,
        F.regexp_count(text_col, F.lit(pattern)).cast("long").alias("n_hits"),
    )


@register(
    "mr_file_lengths",
    oracle=f"""
    SELECT doc_id, count(*) AS n_words, any_value(n_chars) AS n_chars
    FROM ({_SQL_WORDS}) w
    JOIN (SELECT doc_id AS d2, n_chars FROM documents) d ON w.doc_id = d.d2
    GROUP BY doc_id
    """,
)
def mr_file_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-input-file record counts — parity with reference
    src/mrapps/early_exit.go (Map: (file,1); Reduce: count), widened to
    word counts + char length per document."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "n_chars")
    return (
        word_tokens(docs)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.first("n_chars").alias("n_chars"),
        )
    )


def _pid_stamped(docs: DataFrame, order: list) -> DataFrame:
    """Range-partition on the sort key and stamp rows with their partition
    id — the pre-checkpoint stage of mr_distributed_sort, split out so plan
    tests can assert the range exchange (checkpointing severs the visible
    lineage of the full query)."""
    return (
        docs.repartitionByRange(*order)
        .sortWithinPartitions(*order)
        .select(F.spark_partition_id().alias("pid"), *docs.columns)
    )


def distributed_rank(df: DataFrame, order: list) -> DataFrame:
    """Global dense 1..N ranking over a total order with NO
    single-partition stage — the A5 algorithm as a reusable API (B47's
    ntile banding builds on it).  Returns df's columns + ``rank`` (long).

    Range-partition on the sort key, per-partition row_number, then
    per-partition counts → prefix-sum offsets (one row per partition)
    broadcast back.  The stamped relation is localCheckpoint'ed so both
    branches read the same materialized pid assignment (exchange-reuse
    independence — see mr_distributed_sort)."""
    reserved = {"pid", "local_rank", "rank"} & set(df.columns)
    if reserved:
        raise ValueError(
            f"distributed_rank: input columns {sorted(reserved)} collide "
            "with the rank machinery's working columns — rename them first"
        )
    stamped = _pid_stamped(df, order).localCheckpoint()
    local = stamped.withColumn(
        "local_rank",
        F.row_number().over(Window.partitionBy("pid").orderBy(*order)),
    )
    counts = stamped.groupBy("pid").agg(F.count(F.lit(1)).alias("cnt"))
    # prefix-sum over the tiny per-partition counts (bounded by #partitions).
    # The partition key must be non-foldable or Catalyst folds it back to an
    # empty spec (= global window over the full input); least(pid, 0) is
    # constant-valued (pid >= 0) but opaque to the optimizer, keeping an
    # explicit spec while putting all ≤#partitions count rows in one group.
    offsets = counts.select(
        "pid",
        F.coalesce(
            F.sum("cnt").over(
                Window.partitionBy(F.least(F.col("pid"), F.lit(0)))
                .orderBy("pid")
                .rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("offset"),
    )
    return local.join(F.broadcast(offsets), "pid").select(
        (F.col("offset") + F.col("local_rank")).cast("long").alias("rank"),
        *df.columns,
    )


def distributed_ntile(df: DataFrame, order: list, n: int) -> DataFrame:
    """SQL NTILE(n) over a total order with NO single-partition window —
    df's columns + ``bucket`` (int, 1..n).  Built on distributed_rank;
    reproduces NTILE's uneven-division contract from (rank, T) with
    row-local integer arithmetic: with T rows, q = T div n and
    r = T mod n, the FIRST r buckets take q+1 rows, the rest take q.
    The total T rides a one-row broadcast; every quantity (q, r, the
    larger-bucket span) is defined exactly once as a column.  When
    T < n, q = 0 and the span covers all rows, so each row lands in its
    own bucket — the NTILE edge case, no division by zero."""
    ranked = distributed_rank(df, order)
    total = ranked.agg(F.count(F.lit(1)).alias("_t"))
    j = (
        ranked.join(F.broadcast(total))
        .withColumn("_q", F.expr(f"_t div {n}"))
        .withColumn("_r", F.col("_t") % n)
        .withColumn("_bs", F.col("_r") * (F.col("_q") + 1))
    )
    bucket = (
        F.when(
            F.col("rank") <= F.col("_bs"),
            F.expr("(rank - 1) div (_q + 1)") + 1,
        )
        .otherwise(F.col("_r") + F.expr("(rank - _bs - 1) div _q") + 1)
        .cast("int")
    )
    return j.select(*df.columns, bucket.alias("bucket"))


@register(
    "mr_distributed_sort",
    oracle="""
    SELECT row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rank,
           doc_id, n_chars
    FROM documents
    """,
)
def mr_distributed_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global sort with rank (MapReduce-paper TeraSort shape).

    Scale-correct global ranking with NO single-partition stage:
    1. range-partition on the sort key (sampled split points — the paper's
       partitioned sort); partition i holds keys strictly before partition
       i+1's, so ranks are contiguous per partition.  The pid-stamped rows
       are then **localCheckpoint'ed**: both downstream branches (counts and
       ranks) read the SAME materialized pid assignment, so correctness does
       not depend on exchange reuse / plan canonicalization — disabling
       spark.sql.exchange.reuse or AQE re-planning cannot desynchronize the
       branches (this was a silent-wrong-answer hazard);
    2. per-partition row_number — the Window.partitionBy(pid) costs one hash
       exchange on pid (parallel, but a full-data movement: two total
       exchanges for the query);
    3. per-partition row counts → cumulative offsets.  The offsets relation
       has ONE ROW PER PARTITION (~10^3–10^5 at any scale), so its prefix-sum
       window and the broadcast join back are O(#partitions), not O(rows).
    This is zipWithIndex's two-pass algorithm expressed in DataFrame ops
    (zipWithIndex likewise materializes: it runs a counting job first)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    order = [F.col("n_chars").desc(), F.col("doc_id").asc()]
    return distributed_rank(docs, order).select("rank", "doc_id", "n_chars")
