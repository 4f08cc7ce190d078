"""Composite training-data pipeline (SURVEY.md §2 C14): the end-to-end
corpus-preparation pass a large-scale LLM data pipeline runs before
training — quality filter → language filter → exact dedup → token
accounting — expressed as ONE Spark job.

Pipeline order is the 100 TB contract: every row-local metric (token
counts, quality score, language guess, normalized-text hash) is computed
in a single projection over ONE scan of the corpus, the cheap filters run
BEFORE the only shuffle, and the dedup window then partitions just the
surviving rows by their uniform 128-bit hash.  At scale this is: scan
100 TB once at codegen speed, shuffle only the (doc_id, hash, stats)
tuples of the ~half that pass the filters, never the text itself.

Reuses the single-operator building blocks (textmetrics C1–C4 expressions,
dedup C1's normalization) so the composite is provably consistent with the
standalone operators it chains.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mapreduceimplementation_spark.functions.hashing import hash64, sql_hash64
from mapreduceimplementation_spark.functions.text import (
    ngrams_of_words,
    sql_word_ngrams,
    word_array,
    word_chunks,
)
from mapreduceimplementation_spark.operators.textmetrics import (
    _argmax_sql,
    _BPE_RE,
    _lang_re,
    _LANGS,
    _SQL_STOP_RE,
)
from mapreduceimplementation_spark.functions.stable import (
    half_away,
    round6,
    sql_half_away,
    sql_round6,
)
from mapreduceimplementation_spark.registry import register
from mapreduceimplementation_spark.session import spread
from mapreduceimplementation_spark.sources.tables import load_table

_MIN_SCORE = 0.45  # keeps ~half the synthetic corpus (median score ≈ 0.44)
_KEEP_LANG = "en"


@register(
    "corpus_prep",
    oracle=rf"""
    WITH m AS (
        SELECT doc_id,
               md5(regexp_replace(trim(lower(text)), '[ \t\n]+', ' ', 'g')) AS text_hash,
               CAST(length(regexp_extract_all(text, '{_BPE_RE}')) AS BIGINT) AS n_bpe_tokens,
               CAST(length(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT) AS n_words,
               CAST(length(regexp_extract_all(lower(text), '{_SQL_STOP_RE}')) AS BIGINT) AS n_stop,
               CAST(length(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS BIGINT) AS n_punct,
               CAST(length(text) AS BIGINT) AS n_chars_a,
               {", ".join(
                   f"CAST(length(regexp_extract_all(lower(text), '{_lang_re(l)}')) AS BIGINT) AS s_{l}"
                   for l in _LANGS
               )}
        FROM documents WHERE text IS NOT NULL
    ), scored AS (
        SELECT doc_id, text_hash, n_bpe_tokens,
               {sql_round6('''(CASE WHEN n_words > 0 THEN n_stop * 1.0 / n_words ELSE 0.0 END) * 0.5
                 + (1.0 - (CASE WHEN n_chars_a > 0 THEN n_punct * 1.0 / n_chars_a ELSE 0.0 END)) * 0.3
                 + (CASE WHEN n_words < 100 THEN n_words ELSE 100 END) * 1.0 / 100 * 0.2''')} AS score,
               {_argmax_sql()} AS pred_lang
        FROM m
    ), kept AS (
        SELECT * FROM scored
        WHERE score >= {_MIN_SCORE} AND pred_lang = '{_KEEP_LANG}'
    )
    SELECT doc_id, text_hash, n_bpe_tokens, score, group_size
    FROM (
        SELECT doc_id, text_hash, n_bpe_tokens, score,
               min(doc_id) OVER (PARTITION BY text_hash) AS canonical_id,
               count(*)    OVER (PARTITION BY text_hash) AS group_size
        FROM kept
    )
    WHERE doc_id = canonical_id
    """,
)
def corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-prep manifest: the documents that survive quality + language
    filtering and exact dedup, with their token counts — the row set a
    training job would actually read.

    Output columns: doc_id (survivor), text_hash, n_bpe_tokens, score,
    group_size (how many kept duplicates this survivor represents).
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    norm = F.regexp_replace(F.trim(F.lower(F.col("text"))), "[ \\t\\n]+", " ")
    base = docs.where(F.col("text").isNotNull()).select(
        "doc_id",
        F.md5(norm).alias("text_hash"),
        F.regexp_count("text", F.lit(_BPE_RE)).cast("long").alias("n_bpe_tokens"),
        F.regexp_count("text", F.lit("[A-Za-z]+")).cast("long").alias("n_words"),
        F.regexp_count(F.lower("text"), F.lit(_SQL_STOP_RE)).cast("long").alias("n_stop"),
        F.regexp_count("text", F.lit("[^A-Za-z0-9 ]")).cast("long").alias("n_punct"),
        F.length("text").cast("long").alias("n_chars_a"),
        *[
            F.regexp_count(F.lower("text"), F.lit(_lang_re(l))).cast("long").alias(f"s_{l}")
            for l in _LANGS
        ],
    )

    stop_ratio = F.when(
        F.col("n_words") > 0, F.col("n_stop") * 1.0 / F.col("n_words")
    ).otherwise(0.0)
    punct_ratio = F.when(
        F.col("n_chars_a") > 0, F.col("n_punct") * 1.0 / F.col("n_chars_a")
    ).otherwise(0.0)
    length_sat = (
        F.when(F.col("n_words") < 100, F.col("n_words")).otherwise(100) * 1.0 / 100
    )
    pred = None
    for i, li in enumerate(_LANGS):
        cond = F.lit(True)
        for lj in _LANGS[i + 1 :]:
            cond = cond & (F.col(f"s_{li}") >= F.col(f"s_{lj}"))
        pred = F.when(cond, li) if pred is None else pred.when(cond, li)

    # Without a fence, Catalyst pushes the kept-filter through the
    # projections, inlining the score/lang regex tree into the scan-stage
    # Filter and re-computing the word/stop/punct regexes in the
    # projection for surviving rows (~9.8N regex evaluations).  The
    # never-true non-deterministic guard woven into n_bpe_tokens makes
    # this projection non-pushable-past (and, being part of a needed
    # output expression, it survives column pruning — a bare marker
    # column does not): the filter stays ABOVE the metrics projection, so
    # one codegen stage computes every regex exactly once per row and the
    # filter consumes the projected values (r4: the lever BASELINE.md
    # §perf named).
    nondet_guard = F.monotonically_increasing_id() < 0  # always false
    scored = base.select(
        "doc_id",
        "text_hash",
        F.when(nondet_guard, F.lit(None).cast("long"))
        .otherwise(F.col("n_bpe_tokens"))
        .alias("n_bpe_tokens"),
        round6(
            stop_ratio * 0.5 + (1.0 - punct_ratio) * 0.3 + length_sat * 0.2
        ).alias("score"),
        pred.alias("pred_lang"),
    )
    kept = scored.where(
        (F.col("score") >= _MIN_SCORE) & (F.col("pred_lang") == _KEEP_LANG)
    )

    w = Window.partitionBy("text_hash")
    return (
        kept.select(
            "doc_id",
            "text_hash",
            "n_bpe_tokens",
            "score",
            F.min("doc_id").over(w).alias("canonical_id"),
            F.count(F.lit(1)).over(w).alias("group_size"),
        )
        .where(F.col("doc_id") == F.col("canonical_id"))
        .select("doc_id", "text_hash", "n_bpe_tokens", "score", "group_size")
    )


@register(
    "corpus_split",
    oracle=f"""
    SELECT doc_id,
           {sql_hash64("'split-' || CAST(doc_id AS VARCHAR)")} % 100 AS bucket,
           CASE WHEN {sql_hash64("'split-' || CAST(doc_id AS VARCHAR)")} % 100 < 80
                THEN 'train'
                WHEN {sql_hash64("'split-' || CAST(doc_id AS VARCHAR)")} % 100 < 90
                THEN 'val'
                ELSE 'test' END AS split,
           n_chars
    FROM documents
    """,
)
def corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test corpus splitting (80/10/10) by
    portable hash of the document id — the split every training pipeline
    needs and TABLESAMPLE can't give: membership is a pure function of
    doc_id, so it is identical on any engine, any cluster size, any rerun,
    and stable as the corpus grows (new docs never move old docs between
    splits — the property that keeps eval sets uncontaminated).

    Row-local projection, zero shuffle, zero state; at 100 TB this is a
    scan-speed stamp that composes with partitioned writes
    (sources/sinks.py write_partitioned by split)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    bucket = hash64(
        F.concat(F.lit("split-"), F.col("doc_id").cast("string"))
    ) % 100
    return docs.select(
        "doc_id",
        bucket.alias("bucket"),
        F.when(bucket < 80, "train")
        .when(bucket < 90, "val")
        .otherwise("test")
        .alias("split"),
        "n_chars",
    )


# Per-language keep rates (percent): the data-mixing knob — downsample the
# over-represented language, keep more of the rest.  A literal table: the
# mix is a reviewed config artifact, not something inferred from content.
_SAMPLE_RATES = {"de": 50, "en": 10, "es": 50, "fr": 50, "zh": 50}


def _sample_rate_case() -> str:
    whens = " ".join(
        f"WHEN '{lang}' THEN {rate}" for lang, rate in sorted(_SAMPLE_RATES.items())
    )
    return f"CASE lang {whens} ELSE 0 END"


@register(
    "corpus_sample_stratified",
    oracle=f"""
    SELECT doc_id, lang, bucket, n_chars
    FROM (
        SELECT doc_id, lang, n_chars,
               {sql_hash64("'sample-' || CAST(doc_id AS VARCHAR)")} % 100 AS bucket
        FROM documents
    )
    WHERE bucket < {_sample_rate_case()}
    """,
)
def corpus_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: keep a per-language fraction of
    the corpus (the data-mixing step that rebalances language shares
    before training).  Membership = portable hash of doc_id against a
    per-stratum rate table, so — like corpus_split, and unlike
    df.sample()/TABLESAMPLE — the sample is identical on any engine, any
    cluster size, any rerun, and growth-stable (new docs never flip old
    docs in or out).  Using the same hash family but a different salt
    than corpus_split keeps the two decisions independent.

    Row-local scan-speed filter, zero shuffle; languages outside the rate
    table (or NULL) fall to rate 0 and are dropped."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    bucket = hash64(F.concat(F.lit("sample-"), F.col("doc_id").cast("string"))) % 100
    rate = None
    for lang, pct in sorted(_SAMPLE_RATES.items()):
        rate = (
            F.when(F.col("lang") == lang, pct)
            if rate is None
            else rate.when(F.col("lang") == lang, pct)
        )
    rate = rate.otherwise(0)
    return (
        docs.select("doc_id", "lang", bucket.alias("bucket"), "n_chars")
        .where(F.col("bucket") < rate)
    )


@register(
    "source_mix_weights",
    oracle=f"""
    WITH tok AS (
        SELECT source,
               CAST(length(regexp_extract_all(text, '{_BPE_RE}')) AS BIGINT) AS n
        FROM documents WHERE text IS NOT NULL
    ), per AS (
        SELECT source, count(*) AS n_docs,
               CAST(sum(n) AS BIGINT) AS n_tokens
        FROM tok GROUP BY source
    ), tot AS (
        SELECT sum(sqrt(n_tokens)) AS z FROM per
    )
    SELECT source, n_docs, n_tokens,
           {sql_round6('sqrt(n_tokens) / z')} AS weight
    FROM per, tot
    """,
)
def source_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source mixing weights: each source's sampling
    weight ∝ its token count raised to α=0.5 (sqrt), normalized — the
    standard rebalancing between huge and tiny sources when composing a
    training mix (α=1 is proportional, α=0 is uniform; sqrt is the
    common middle).

    Scale shape: token counting is a row-local regexp projection over ONE
    corpus scan; the per-source rollup (bounded cardinality) is
    localCheckpoint'ed before fan-out, so the normalizer branch reads the
    materialized few-row rollup instead of re-scanning and re-tokenizing
    the corpus (Spark does not reuse the rollup subtree across consumers
    — SURVEY §6's checkpoint-before-fan-out rule); Z then rides a one-row
    broadcast.  The normalizer's float sum of sqrt values is computed
    over ≤|sources| rows in one task, and the weight is rounded at the
    final projection — engine-stable (sqrt is correctly-rounded IEEE in
    both engines)."""
    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    per = (
        docs.where(F.col("text").isNotNull())
        .select(
            "source",
            F.regexp_count("text", F.lit(_BPE_RE)).cast("long").alias("n"),
        )
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n").alias("n_tokens"))
        .localCheckpoint(eager=True)
    )
    tot = per.agg(F.sum(F.sqrt("n_tokens")).alias("z"))
    return per.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        round6(F.sqrt("n_tokens") / F.col("z")).alias("weight"),
    )


# ---------------------------------------------------------------------------
# C27. corpus_decontaminate (benchmark n-gram overlap check)

#: decontamination shingle width.  Real pipelines use 8-13 word-grams
#: (the GPT-3/PaLM overlap rule) on natural text; this synthetic corpus
#: has far less long-range verbatim repetition, so 4 plays the same role
#: (shared shingles mean real overlap, ~4% of docs flagged at sf0.01 —
#: a meaningful gate signal where 8 leaves a 1-row result).  Raise with
#: the corpus's natural duplication at deploy.
_DECON_N = 4
#: the benchmark stand-in: every 50th doc (~2% of the corpus) plays the
#: role of the held-out eval set a real pipeline loads from a fixed list
_DECON_EVAL_MOD = 50


@register(
    "corpus_decontaminate",
    oracle=f"""
    WITH sh AS ({sql_word_ngrams(_DECON_N)}),
    ev AS (SELECT DISTINCT sh FROM sh WHERE doc_id % {_DECON_EVAL_MOD} = 0),
    tr AS (SELECT doc_id, sh FROM sh WHERE doc_id % {_DECON_EVAL_MOD} <> 0),
    agg AS (
        SELECT tr.doc_id, count(*) AS n_shingles, count(ev.sh) AS n_shared
        FROM tr LEFT JOIN ev ON tr.sh = ev.sh GROUP BY tr.doc_id
    )
    SELECT doc_id, n_shared, n_shingles,
           {sql_round6('n_shared * 1.0 / n_shingles')} AS overlap_frac
    FROM agg WHERE n_shared > 0
    """,
)
def corpus_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training documents that share any word
    n-gram (_DECON_N) with the eval set, with how much of each document overlaps —
    the contamination check every LLM training pipeline runs before a
    data release (eval answers leaking into training data inflate
    benchmark scores silently).  Output: one row per contaminated
    training doc (doc_id, n_shared distinct shingles, n_shingles total,
    overlap_frac); clean docs emit nothing.

    Scale shape: the eval side is small BY NATURE (benchmarks are
    thousands of documents, the corpus is billions), so its distinct
    shingle set is BROADCAST — the 100 TB training side is scanned once,
    shingled row-locally (the two-step projection rule from dedup.py),
    and STREAMED through one broadcast left join + one aggregation
    (shared + total counts in the same partial agg — nothing
    corpus-sized is ever materialized or shuffled; only (doc_id, counts)
    reach the exchange).  Word n-gram
    semantics are shared with the dedup family (functions/text.py), so
    the DuckDB oracle replays the identical shingle relation."""
    from mapreduceimplementation_spark.functions.text import (
        ngrams_of_words,
        word_array,
    )
    from mapreduceimplementation_spark.session import spread

    docs = spread(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"), spark
    )
    sh = (
        docs.where(F.col("text").isNotNull())
        .select("doc_id", word_array("text").alias("ws"))
        .where(F.size("ws") >= _DECON_N)
        .select(
            "doc_id",
            F.array_distinct(ngrams_of_words("ws", _DECON_N)).alias("sh_arr"),
        )
        .select("doc_id", F.explode_outer("sh_arr").alias("sh"))
    )
    # NO checkpoint of sh: it is corpus-sized (every distinct n-gram of
    # every doc — larger than the text itself at scale); the training
    # side streams through ONE left join + ONE aggregation instead.  The
    # eval side re-derives its 2% subset with the doc_id predicate pushed
    # to the scan — a recompute far cheaper than materializing sh.
    is_eval = F.col("doc_id") % _DECON_EVAL_MOD == 0
    ev = sh.where(is_eval).select(F.col("sh").alias("ev_sh")).distinct()
    return (
        sh.where(~is_eval)
        .join(F.broadcast(ev), F.col("sh") == F.col("ev_sh"), "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("ev_sh").alias("n_shared"),
        )
        .where(F.col("n_shared") > 0)
        .select(
            "doc_id",
            "n_shared",
            "n_shingles",
            round6(F.col("n_shared") * 1.0 / F.col("n_shingles")).alias(
                "overlap_frac"
            ),
        )
    )


# ---------------------------------------------------------------------------
# C29. corpus_pack_sequences (concat-and-chunk training-sequence packing)

_PACK_BUDGET = 4096  # tokens per packed training sequence
#: pack-order buckets: packing is a running sum, i.e. a total order — the
#: scalable form partitions the corpus into hash buckets and packs within
#: each independently (one window exchange, no global sort); at deploy
#: raise with corpus size to keep per-bucket state flat
_PACK_BUCKETS = 64


@register(
    "corpus_pack_sequences",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               CAST(length(regexp_extract_all(text, '{_BPE_RE}')) AS BIGINT) AS n_tokens,
               {sql_hash64("'pack-' || CAST(doc_id AS VARCHAR)")} AS h
        FROM documents WHERE text IS NOT NULL
    ),
    placed AS (
        SELECT doc_id, n_tokens, h % {_PACK_BUCKETS} AS bucket,
               CAST(sum(n_tokens) OVER (
                   PARTITION BY h % {_PACK_BUCKETS} ORDER BY h, doc_id
                   ROWS UNBOUNDED PRECEDING
               ) - n_tokens AS BIGINT) AS start_tok
        FROM toks
    )
    SELECT doc_id, bucket,
           CAST(bucket * {1 << 40} + start_tok // {_PACK_BUDGET} AS BIGINT) AS seq_id,
           CAST(start_tok % {_PACK_BUDGET} AS BIGINT) AS offset_tokens,
           n_tokens
    FROM placed
    """,
)
def corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing: assign every document a position in a
    stream of fixed-budget (4096-token) sequences — the concat-and-chunk
    step every pretraining dataloader runs (docs are concatenated in a
    deterministic shuffle order and sliced into equal sequences; a doc
    whose tokens straddle a boundary continues into the next sequence,
    which is why offset + n_tokens may exceed the budget).

    Output: (doc_id, bucket, seq_id, offset_tokens, n_tokens) — seq_id
    is the sequence in which the doc STARTS, offset_tokens its position
    there.  The order is the portable hash of doc_id: a deterministic
    global shuffle (same property as C16's split — rerun-stable on any
    engine or cluster), not ingestion order, which would correlate
    neighboring training examples.

    Scale shape: a running sum is a total order, so the scalable form
    hash-partitions the corpus into _PACK_BUCKETS independent streams
    and packs within each — ONE window exchange on the uniform bucket
    key, exact integer cumulative sums, no global sort and no driver
    state.  Each bucket yields its own seq_id namespace
    (bucket << 40 | local — 2^40 sequences ≈ 4.5e15 tokens per bucket,
    headroom past the 100 TB target; a 1e6-width namespace would collide
    ~400x below it), exactly how a 1000-executor packing job would shard
    its output files."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    h = hash64(F.concat(F.lit("pack-"), F.col("doc_id").cast("string")))
    toks = docs.where(F.col("text").isNotNull()).select(
        "doc_id",
        F.regexp_count("text", F.lit(_BPE_RE)).cast("long").alias("n_tokens"),
        h.alias("h"),
    )
    w = (
        Window.partitionBy(F.col("h") % _PACK_BUCKETS)
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    placed = toks.select(
        "doc_id",
        "n_tokens",
        (F.col("h") % _PACK_BUCKETS).alias("bucket"),
        (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("start_tok"),
    )
    return placed.select(
        "doc_id",
        "bucket",
        (F.col("bucket") * (1 << 40) + F.floor(F.col("start_tok") / _PACK_BUDGET)).alias(
            "seq_id"
        ),
        (F.col("start_tok") % _PACK_BUDGET).alias("offset_tokens"),
        "n_tokens",
    )


# ---------------------------------------------------------------------------
# C33. bloom_membership

_BLOOM_M = 1024  # filter bits
_BLOOM_K = 3  # hash functions


def _bloom_pos_sql(i: int) -> str:
    return (
        sql_hash64(f"'bloom-{i}-' || CAST(doc_id AS VARCHAR)") + f" % {_BLOOM_M}"
    )


def _bloom_pos(i: int) -> F.Column:
    return (
        hash64(F.concat(F.lit(f"bloom-{i}-"), F.col("doc_id").cast("string")))
        % _BLOOM_M
    )


@register(
    "bloom_membership",
    oracle=f"""
    WITH blocklist AS (
        SELECT doc_id FROM documents
        WHERE {sql_hash64("'split-' || CAST(doc_id AS VARCHAR)")} % 100 >= 90
    ),
    pos AS (
        SELECT DISTINCT unnest([{", ".join(_bloom_pos_sql(i) for i in range(_BLOOM_K))}]) AS p
        FROM blocklist
    )
    SELECT d.doc_id,
           ({" AND ".join(f"({_bloom_pos_sql(i)}) IN (SELECT p FROM pos)" for i in range(_BLOOM_K))}) AS bloom_hit,
           ({sql_hash64("'split-' || CAST(doc_id AS VARCHAR)")} % 100 >= 90) AS in_blocklist
    FROM documents d
    """,
)
def bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist filtering via an engine-portable Bloom filter: is each
    corpus document in the blocklist (here: the eval/'test' split of
    corpus_split — the ids you must NOT train on)?  Output per doc:
    bloom_hit (the filter's verdict) and in_blocklist (exact), so the
    no-false-negative guarantee and the false-positive rate are both
    observable.

    The filter is m=1024 bits / k=3 md5-derived hash positions — bit
    positions are pure functions of doc_id (functions/hashing.py), so
    Spark and DuckDB build BIT-IDENTICAL filters and the probe is
    oracle-checkable.  The bit array rides a ONE-ROW broadcast (its size
    is m by construction, independent of blocklist cardinality — the
    whole point of a Bloom filter at 100 TB: membership against a huge
    set without shuffling it).

    Scale shape: building the filter partial-aggregates k positions per
    blocklist row down to <= m distinct bits (two bounded exchanges);
    the probe is a row-local array_contains conjunction against the
    broadcast — zero shuffle of the corpus; the EXACT check (the join
    that kills false positives) runs ONLY on bloom-hit rows, so its
    volume is true-hits + fp-rate, not corpus-sized — filter cheap,
    join the survivors.  Size m with blocklist growth: fp ≈
    (1 - e^(-kn/m))^k; keep kn/m <= ~0.5 for sub-1% fp."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    split_bucket = hash64(
        F.concat(F.lit("split-"), F.col("doc_id").cast("string"))
    ) % 100
    blocklist = docs.where(split_bucket >= 90)
    bits = (
        blocklist.select(
            F.explode(F.array(*[_bloom_pos(i) for i in range(_BLOOM_K)])).alias("p")
        )
        .agg(F.array_sort(F.collect_set("p")).alias("bits"))
        # one row, <= m ints — build the filter exactly once even though
        # both union branches (hits / misses) broadcast it
        .localCheckpoint(eager=True)
    )
    hit = None
    for i in range(_BLOOM_K):
        c = F.array_contains(F.col("bits"), _bloom_pos(i))
        hit = c if hit is None else (hit & c)
    probe = docs.crossJoin(F.broadcast(bits)).select(
        "doc_id", hit.alias("bloom_hit")
    )
    # exact verification joins ONLY the bloom-hit rows (bounded by true
    # hits + fp rate); misses are exact by the no-false-negative property
    marked = blocklist.select("doc_id", F.lit(True).alias("in_blocklist"))
    hits = (
        probe.where(F.col("bloom_hit"))
        .join(marked, "doc_id", "left")
        .select(
            "doc_id",
            "bloom_hit",
            F.coalesce("in_blocklist", F.lit(False)).alias("in_blocklist"),
        )
    )
    misses = probe.where(~F.col("bloom_hit")).select(
        "doc_id", "bloom_hit", F.lit(False).alias("in_blocklist")
    )
    return hits.unionByName(misses)


# ---------------------------------------------------------------------------
# C41. corpus_chunk_overlap — sliding-window chunking for embedding/RAG prep

_CHUNK_WORDS = 64  # window width (words per chunk)
_CHUNK_STRIDE = 48  # stride (overlap = width - stride = 16 words)


@register(
    "corpus_chunk_overlap",
    oracle=f"""
    WITH ws AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(text, '[^A-Za-z]+'),
                           x -> x <> '') AS w
        FROM documents WHERE text IS NOT NULL
    ),
    sized AS (
        SELECT doc_id, w, len(w) AS n_words,
               1 + (GREATEST(len(w) - {_CHUNK_WORDS}, 0)
                    + {_CHUNK_STRIDE} - 1) // {_CHUNK_STRIDE} AS n_chunks
        FROM ws WHERE len(w) > 0
    )
    SELECT doc_id,
           CAST(i AS BIGINT) AS chunk_id,
           CAST(i * {_CHUNK_STRIDE} AS BIGINT) AS start_word,
           CAST(LEAST({_CHUNK_WORDS}, n_words - i * {_CHUNK_STRIDE})
                AS BIGINT) AS n_chunk_words,
           array_to_string(
               w[i * {_CHUNK_STRIDE} + 1 :
                 i * {_CHUNK_STRIDE} + {_CHUNK_WORDS}], ' ') AS chunk_text
    FROM sized, UNNEST(range(0, n_chunks)) t(i)
    """,
)
def corpus_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking with overlap — the retrieval/RAG
    prep step that slices each document into fixed-width windows
    ({_CHUNK_WORDS} words, stride {_CHUNK_STRIDE}, so consecutive chunks
    share {_CHUNK_WORDS - _CHUNK_STRIDE} words) before embedding.  The
    overlap is the point: a fact that straddles a hard boundary appears
    whole in at least one chunk.  Every document yields at least one
    chunk (a short doc is one partial chunk); the final window is
    allowed to be short rather than re-anchored backward, so chunk
    membership is a pure function of (doc_id, word index) — append-only
    corpora re-chunk only their new docs.

    Output: (doc_id, chunk_id, start_word, n_chunk_words, chunk_text).

    Scale shape: pure row-local fanout — split once, slice per window
    (array ops inside codegen, the text column is read once), posexplode
    of the per-doc chunk array; ZERO shuffles, no state.  At 100 TB this
    is a scan-speed map whose output feeds the embedding UDF stage and
    partitions naturally by input split."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    docs = docs.where(F.col("text").isNotNull()).select(
        "doc_id", word_array("text").alias("w")
    )
    return (
        docs.select(
            "doc_id",
            F.size("w").alias("n_words"),
            F.explode(
                word_chunks("w", _CHUNK_WORDS, stride=_CHUNK_STRIDE)
            ).alias("c"),
        )
        .select(
            "doc_id",
            F.col("c.pid").alias("chunk_id"),
            F.col("c.start").alias("start_word"),
            F.least(
                F.lit(_CHUNK_WORDS).cast("long"),
                F.col("n_words") - F.col("c.start"),
            ).alias("n_chunk_words"),
            F.col("c.chunk").alias("chunk_text"),
        )
    )


# ---------------------------------------------------------------------------
# C42. sample_uniform_k — deterministic global uniform k-sample (the
# distributed reservoir)

_UNIFORM_K = 100


@register(
    "sample_uniform_k",
    oracle=f"""
    SELECT doc_id, rank_hash, source, n_chars
    FROM (
        SELECT doc_id,
               {sql_hash64("'usamp-' || CAST(doc_id AS VARCHAR)")}
                   AS rank_hash,
               source, n_chars
        FROM documents
    )
    ORDER BY rank_hash, doc_id
    LIMIT {_UNIFORM_K}
    """,
)
def sample_uniform_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-size uniform corpus sample: the {_UNIFORM_K} documents with
    the smallest portable hash — the deterministic equivalent of
    reservoir sampling (every doc's rank tag is a pure function of its
    id, so the winning set is a uniform draw, identical on any engine,
    any cluster size, any rerun, and STABLE under corpus growth in the
    reservoir sense: a new doc either displaces the current maximum or
    changes nothing).  corpus_split/corpus_sample_stratified give a
    uniform RATE; this gives an exact COUNT — the form needed for a
    fixed-size eval draw or an inspection sample.

    Scale shape: orderBy+limit compiles to TakeOrderedAndProject — each
    partition keeps its local top-{_UNIFORM_K} heap and only k rows per
    partition reach the single merge, so there is NO global sort and no
    full-corpus shuffle (the classic MapReduce top-k combiner).  The
    text column is not touched, only the id/stat projection."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    h = hash64(F.concat(F.lit("usamp-"), F.col("doc_id").cast("string")))
    return (
        docs.select("doc_id", h.alias("rank_hash"), "source", "n_chars")
        .orderBy("rank_hash", "doc_id")
        .limit(_UNIFORM_K)
    )


# ---------------------------------------------------------------------------
# C50. corpus_sample_weighted — deterministic weighted k-sample without
# replacement (Efraimidis–Spirakis A-ES keys over the portable hash)

_WSAMP_K = 100
_H_SPACE = 1 << 60  # hash64 is 60 bits: u = (h+1)/2^60 in (0, 1]


@register(
    "corpus_sample_weighted",
    oracle=f"""
    SELECT doc_id, source, n_chars,
           CAST(row_number() OVER (ORDER BY es_key DESC, doc_id) AS BIGINT)
               AS sample_pos
    FROM (
        SELECT doc_id, source, n_chars,
               ln(CAST({sql_hash64("'wsamp-' || CAST(doc_id AS VARCHAR)")} + 1
                       AS DOUBLE)
                  / CAST({_H_SPACE} AS DOUBLE))
                   / CAST(n_chars AS DOUBLE) AS es_key
        FROM documents WHERE n_chars > 0
        ORDER BY es_key DESC, doc_id
        LIMIT {_WSAMP_K}
    )
    """,
)
def corpus_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-k weighted sample WITHOUT replacement, weight = n_chars —
    the length-proportional draw a token-budgeted corpus selection runs
    (C42 is the uniform twin; C23 reweights sources, this picks the
    documents).  Algorithm: Efraimidis–Spirakis A-ES — per-doc key
    u^(1/w) with u uniform in (0,1], keep the k largest; equivalently
    rank by ln(u)/w, which avoids the pow() and keeps the key monotone.

    u is NOT random: u = (hash64(doc_id)+1)/2^60, so the sample is a
    pure function of doc_id — rerun-stable, growth-stable (an appended
    doc displaces at most one survivor), and bit-identical in the DuckDB
    oracle, which certifies the whole draw at full value.  Float keys
    never leave the plan (the output carries the integer sample
    position; a last-ulp ln() divergence could only matter if two docs'
    keys collided to within one ulp — distinct 60-bit hashes keep them
    provably apart, and doc_id tie-breaks pin the order regardless).

    Scale shape: key computation is row-local scan-speed arithmetic on
    the id/stat projection (text never read); orderBy+limit compiles to
    TakeOrderedAndProject (C42's per-partition top-k heaps, k rows per
    partition to the driver merge — no global sort, no shuffle); the
    final position window runs over the k-row result only."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "source", "n_chars")
        .where(F.col("n_chars") > 0)
    )
    u = (
        hash64(F.concat(F.lit("wsamp-"), F.col("doc_id").cast("string")))
        + F.lit(1)
    ).cast("double") / F.lit(float(_H_SPACE))
    key = F.log(u) / F.col("n_chars").cast("double")
    top = (
        docs.select("doc_id", "source", "n_chars", key.alias("es_key"))
        .orderBy(F.col("es_key").desc(), "doc_id")
        .limit(_WSAMP_K)
    )
    w = Window.orderBy(F.col("es_key").desc(), "doc_id")
    return top.select(
        "doc_id",
        "source",
        "n_chars",
        F.row_number().over(w).cast("long").alias("sample_pos"),
    )


# ---------------------------------------------------------------------------
# C64. dsir_importance — hashed-n-gram importance weights (DSIR)

#: hashed-unigram feature space: bucket = hash64('dsir-' || word) % _DSIR_B.
#: 512 buckets is the classic DSIR configuration scaled to this corpus;
#: the bucket-count bound (not the vocab) is what the shuffle carries.
_DSIR_B = 512
#: the target distribution: documents labeled with this language play the
#: role of DSIR's "formal text" target sample (wiki/books in the paper)
_DSIR_TARGET_LANG = "en"


@register(
    "dsir_importance",
    oracle=f"""
    WITH words AS (
        SELECT doc_id, lang, unnest(list_filter(
                   regexp_split_to_array(lower(text), '[^a-z]+'),
                   x -> x <> '')) AS w
        FROM documents WHERE text IS NOT NULL
    ),
    feats AS (
        SELECT doc_id, lang,
               {sql_hash64("'dsir-' || w")} % {_DSIR_B} AS b
        FROM words
    ),
    buckets AS (
        SELECT b,
               CAST(count(*) AS BIGINT) AS cr,
               CAST(sum(CASE WHEN lang = '{_DSIR_TARGET_LANG}'
                             THEN 1 ELSE 0 END) AS BIGINT) AS ct
        FROM feats GROUP BY b
    ),
    totals AS (
        SELECT CAST(sum(cr) AS BIGINT) AS nr, CAST(sum(ct) AS BIGINT) AS nt
        FROM buckets
    ),
    lp0 AS (
        SELECT b,
               CAST({sql_half_away(
                   "ln(((ct + 1.0) * (nr + " + str(_DSIR_B) + ")) / "
                   "((cr + 1.0) * (nt + " + str(_DSIR_B) + ")))", 9)}
                   AS DECIMAL(18,9)) AS llr
        FROM buckets CROSS JOIN totals
    ),
    lp AS (SELECT * FROM lp0),
    scored AS (
        SELECT f.doc_id,
               any_value(f.lang) AS lang,
               count(*) AS n_words,
               CAST(sum(lp.llr) AS DOUBLE) AS dsir_score,
               sum(lp.llr) AS raw
        FROM feats f JOIN lp ON f.b = lp.b
        GROUP BY f.doc_id
    ),
    m AS (SELECT CAST(sum(raw) AS DOUBLE) / count(*) AS mean_score
          FROM scored)
    SELECT doc_id, lang, n_words, dsir_score,
           dsir_score > mean_score AS selected
    FROM scored CROSS JOIN m
    """,
)
def dsir_importance(
    spark: SparkSession, sf_dir: str, *, checkpoint: bool = True
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, Data Selection via
    Importance Resampling): score every document by the log-likelihood
    ratio of its hashed-unigram features under a TARGET distribution
    (here: the '{_DSIR_TARGET_LANG}'-labeled slice, standing in for the
    paper's wiki/books sample) vs the RAW corpus distribution —
    positive total = more target-like than average, the signal DSIR
    resamples on to pick pretraining data at scale.  Bag-of-hashed-
    n-grams with add-1 smoothing over {_DSIR_B} buckets, exactly the
    paper's estimator with unigram features.

    Determinism discipline: each bucket's log-ratio is quantized to 9dp
    DECIMAL before any per-doc summation (the C28 lesson — raw-double
    sums vary with merge order and ln() by an ulp across libm); the
    per-doc score is then an EXACT decimal sum cast to double, identical
    on both engines under any partitioning.

    Scale shape: two passes, both cheap — pass 1 folds all word
    occurrences into a {_DSIR_B}-row bucket table (ONE partial-agg
    exchange bounded by bucket count, never vocab or corpus size; totals
    are a single broadcast row); pass 2 re-scans, maps each word to its
    bucket row-locally, broadcast-joins the {_DSIR_B}-row log-ratio
    table and aggregates per doc_id (one exchange carrying (doc_id,
    llr) pairs, text never shuffled).  This is the production DSIR
    shape: the model is bucket-table-sized, the data is streamed.

    ``checkpoint=False`` (tests only) skips the lineage-truncating
    localCheckpoints so plan gates can see the full scoring stage."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )

    def feats():
        ws = F.filter(
            F.split(F.lower(F.col("text")), "[^a-z]+"),
            lambda x: x != F.lit(""),
        )
        return (
            docs.where(F.col("text").isNotNull())
            .select("doc_id", "lang", F.explode(ws).alias("w"))
            .select(
                "doc_id",
                "lang",
                (
                    hash64(F.concat(F.lit("dsir-"), F.col("w"))) % _DSIR_B
                ).alias("b"),
            )
        )

    buckets = feats().groupBy("b").agg(
        F.count(F.lit(1)).alias("cr"),
        F.sum(
            F.when(F.col("lang") == _DSIR_TARGET_LANG, 1).otherwise(0)
        ).cast("long").alias("ct"),
    )
    totals = buckets.agg(
        F.sum("cr").alias("nr"), F.sum("ct").alias("nt")
    )
    lp = (
        buckets.crossJoin(F.broadcast(totals))
        .select(
            "b",
            half_away(
                F.log(
                    ((F.col("ct") + 1.0) * (F.col("nr") + _DSIR_B))
                    / ((F.col("cr") + 1.0) * (F.col("nt") + _DSIR_B))
                ),
                9,
            )
            .cast("decimal(18,9)")
            .alias("llr"),
        )
    )
    if checkpoint:
        lp = lp.localCheckpoint(eager=False)
    # scored is output-sized and consumed twice (rows + corpus mean) —
    # checkpoint so the two-pass DSIR lineage doesn't re-run per consumer
    scored = (
        feats()
        .join(F.broadcast(lp), "b")
        .groupBy("doc_id")
        .agg(
            F.first("lang").alias("lang"),
            F.count(F.lit(1)).alias("n_words"),
            F.sum("llr").cast("double").alias("dsir_score"),
            F.sum("llr").alias("raw"),
        )
    )
    if checkpoint:
        scored = scored.localCheckpoint(eager=False)
    # selection rule: above the corpus-mean score (DSIR resamples on the
    # weights; the mean threshold is the deterministic top-half cut).
    # The mean divides an EXACT decimal sum by an exact count — both
    # engines produce the identical double.
    m = scored.agg(
        (F.sum("raw").cast("double") / F.count(F.lit(1))).alias("mean_score")
    )
    return scored.crossJoin(F.broadcast(m)).select(
        "doc_id",
        "lang",
        "n_words",
        "dsir_score",
        (F.col("dsir_score") > F.col("mean_score")).alias("selected"),
    )


# ---------------------------------------------------------------------------
# C71. quality_classifier — trained fastText-style quality filter
# (the model-based screen GPT-3 §A / CCNet §4.2 pipelines apply after the
# rule screens: a LINEAR classifier over hashed bag-of-words features,
# trained distributed, then run over the whole corpus)

#: hashed feature width (C34's hashing trick at classifier width; the
#: vocabulary-free featurization is the point — no dictionary broadcast)
_QC_DIM = 16
#: full-batch gradient steps (fixed-point; each step is ONE partial-agg
#: exchange, the C15/C26 iteration contract).  6 steps over CENTERED,
#: dim-scaled features beat the base rate at both test SFs (grid-searched
#: offline with the pure-Python twin); uncentered features need thousands
#: of steps because the bias direction dominates the covariance.
_QC_ITERS = 6
#: learning rate, applied as round(8.0 * g_j / (1e6 * n)) micro-units
_QC_LR = "8.0"
#: feature scale: bucket fraction × dim ≈ O(1) in micro-units — without
#: it every feature is ~1/dim and gradient descent crawls
_QC_SCALE = 16 * 1000000

_QC_NDIM = _QC_DIM + 1  # + bias coordinate (constant 1e6)

#: hard-sigmoid link: p = clamp(1/2 + z/4, 0, 1) in micro-units — piecewise
#: LINEAR, so the whole forward pass is integer-exact on both engines
#: (exp()-based sigmoid would put every verdict one float ulp from a
#: rounding boundary; the hard link is the standard quantized-net escape)
_SQL_QC_P = (
    "LEAST(1000000, GREATEST(0, 500000 + CAST(round(CAST(round("
    f"list_reduce(list_transform(range(1, {_QC_NDIM + 1}),"
    " j -> w[j] * x[j]), (a, b) -> a + b) / 1000000.0) AS BIGINT)"
    " / 4.0) AS BIGINT)))"
)


def _sql_qc_iters(train_filter: str | None = None) -> str:
    """Unrolled training chain: score -> gradient -> weight-update CTEs.

    With ``train_filter`` (a doc_id predicate), the centering statistics
    AND every gradient step see only the filtered subset (no eval
    leakage), while the final scoring pass (``sfin``) still covers all
    docs — the C75 train/eval split; default trains on everything (C71)."""
    mus = ", ".join(
        f"CAST(round(sum(x[{j}]) * 1.0 / count(*)) AS BIGINT) AS m{j}"
        for j in range(1, _QC_DIM + 1)
    )
    mu_list = ", ".join(f"m{j}" for j in range(1, _QC_DIM + 1))
    mu_where = f" WHERE {train_filter}" if train_filter else ""
    train_src = "qctr" if train_filter else "qcfeats"
    parts = [
        f"qcmu AS (SELECT [{mu_list}, CAST(0 AS BIGINT)] AS mu"
        f" FROM (SELECT {mus} FROM qcraws{mu_where}))",
        "qcfeats AS (SELECT doc_id,"
        f" list_transform(range(1, {_QC_NDIM + 1}), j -> x[j] - mu[j]) AS x, y"
        " FROM qcraws CROSS JOIN qcmu)",
    ]
    if train_filter:
        parts.append(f"qctr AS (SELECT * FROM qcfeats WHERE {train_filter})")
    parts.append(
        "w0 AS (SELECT list_transform(range(0, "
        f"{_QC_NDIM}), j -> CAST(0 AS BIGINT)) AS w)"
    )
    gsums = ", ".join(
        f"sum((y - p) * x[{j}]) AS g{j}" for j in range(1, _QC_NDIM + 1)
    )
    wnew = ", ".join(
        f"w[{j}] + CAST(round({_QC_LR} * g{j} / (1000000.0 * n)) AS BIGINT)"
        for j in range(1, _QC_NDIM + 1)
    )
    for t in range(1, _QC_ITERS + 1):
        parts.append(
            f"s{t} AS (SELECT doc_id, x, y, {_SQL_QC_P} AS p"
            f" FROM {train_src} CROSS JOIN w{t - 1})"
        )
        parts.append(
            f"g{t} AS (SELECT CAST(count(*) AS BIGINT) AS n, {gsums} FROM s{t})"
        )
        parts.append(
            f"w{t} AS (SELECT [{wnew}] AS w FROM g{t} CROSS JOIN w{t - 1})"
        )
    parts.append(
        f"sfin AS (SELECT doc_id, x, y, {_SQL_QC_P} AS p"
        f" FROM qcfeats CROSS JOIN w{_QC_ITERS})"
    )
    return ",\n    ".join(parts)


_SQL_QC_FEATS = f"""
    qcraw AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), w -> w <> '') AS ws
        FROM documents WHERE text IS NOT NULL
    ),
    qcstat AS (
        SELECT doc_id, CAST(len(ws) AS BIGINT) AS n,
               list_transform(ws, w -> {sql_hash64("'qc-' || w")} % {_QC_DIM})
                   AS bs,
               CAST(len(list_filter(ws, w -> w = 'the' OR w = 'a'))
                   AS BIGINT) AS nstop
        FROM qcraw WHERE len(ws) > 0
    ),
    qcraws AS (
        SELECT doc_id,
               list_concat(
                   list_transform(range(0, {_QC_DIM}),
                       j -> CAST(round({_QC_SCALE}.0 *
                                len(list_filter(bs, b -> b = j)) / n)
                            AS BIGINT)),
                   [CAST(1000000 AS BIGINT)]) AS x,
               CASE WHEN 10 * nstop >= n THEN 1000000 ELSE 0 END AS y
        FROM qcstat
    )
"""


def _qc_features(
    spark: SparkSession, sf_dir: str, center_on=None
) -> DataFrame:
    """(doc_id, x: array<long>[17], y: 0|1e6) — ppm-normalized hashed
    bag-of-words + bias, and the rule label (stop-word density >= 10%).
    ``center_on`` (a doc_id predicate Column) restricts the centering
    statistics to that subset (C75's no-eval-leakage rule); all docs are
    still featurized and centered against it."""
    # HOF-heavy stage (per-token md5 in an interpreted transform): never
    # let the single-row-group test parquet serialize it onto one core
    docs = spread(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"), spark
    )
    ws = F.filter(F.split("text", " "), lambda w: w != F.lit(""))
    base = (
        docs.where(F.col("text").isNotNull())
        .select("doc_id", ws.alias("ws"))
        .select(
            "doc_id",
            F.size("ws").cast("long").alias("n"),
            F.transform(
                "ws", lambda w: hash64(w, salt="qc-") % _QC_DIM
            ).alias("bs"),
            F.size(
                F.filter(
                    "ws", lambda w: (w == F.lit("the")) | (w == F.lit("a"))
                )
            )
            .cast("long")
            .alias("nstop"),
        )
        .where(F.col("n") > 0)
    )
    counts = F.transform(
        F.sequence(F.lit(0), F.lit(_QC_DIM - 1)),
        lambda j: F.round(
            F.lit(float(_QC_SCALE))
            * F.size(F.filter(F.col("bs"), lambda b: b == j))
            / F.col("n")
        ).cast("long"),
    )
    raws = base.select(
        "doc_id",
        F.concat(counts, F.array(F.lit(1000000).cast("long"))).alias("x"),
        F.when(10 * F.col("nstop") >= F.col("n"), F.lit(1000000))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("y"),
    # raws feeds TWO consumers (the mean pass and the centering join);
    # without materialization the per-token-md5 featurization runs twice
    ).localCheckpoint(eager=True)
    # centering pass: one partial-agg exchange onto a 17-long mean row,
    # broadcast back — without it the bias direction dominates the feature
    # covariance and full-batch GD needs thousands of steps to separate
    mu_cols = [
        F.round(
            F.sum(F.element_at("x", j)) * F.lit(1.0) / F.count(F.lit(1))
        )
        .cast("long")
        .alias(f"m{j}")
        for j in range(1, _QC_DIM + 1)
    ]
    mu_src = raws.where(center_on) if center_on is not None else raws
    mu = mu_src.agg(*mu_cols).select(
        F.array(
            *[F.col(f"m{j}") for j in range(1, _QC_DIM + 1)],
            F.lit(0).cast("long"),
        ).alias("mu")
    )
    return raws.crossJoin(F.broadcast(mu)).select(
        "doc_id",
        F.zip_with("x", "mu", lambda a, b: a - b).alias("x"),
        "y",
    )


#: hard-sigmoid forward pass over the crossJoined weight column, as ONE
#: Spark-SQL expression string.  The parsed tree is operator-identical to
#: the former Column-API construction (same ROUND/CAST/HOF nodes, same
#: promotion order), but building it costs one py4j round-trip instead of
#: the ~400 the Column calls made — measured ~0.7 s of pure driver-side
#: construction PER training step at sf0.1 (r11 probe), the real cost the
#: r10 scaling block flagged as "driver-bound".
_QC_P_SQL = (
    "LEAST(CAST(1000000 AS BIGINT), GREATEST(CAST(0 AS BIGINT), "
    "CAST(500000 AS BIGINT) + CAST(ROUND(CAST(ROUND("
    "aggregate(zip_with(w, x, (a, b) -> a * b), CAST(0 AS BIGINT), "
    "(acc, v) -> acc + v) / 1000000.0D) AS BIGINT) / 4.0D) AS BIGINT)))"
)

_QC_GRAD_SQL = ["CAST(count(1) AS BIGINT) AS n"] + [
    f"sum((y - p) * element_at(x, {j})) AS g{j}"
    for j in range(1, _QC_NDIM + 1)
]

_QC_WNEW_SQL = "array(" + ", ".join(
    f"element_at(w, {j}) + CAST(ROUND({_QC_LR}D * g{j} / "
    f"(1000000.0D * n)) AS BIGINT)"
    for j in range(1, _QC_NDIM + 1)
) + ") AS w"


def _qc_w_row(spark: SparkSession, w_vals: list) -> DataFrame:
    """One-row weight relation from driver-held values (17 longs —
    model-sized): a Range+Project plan with the weights folded in as
    literals.  Every step's plan has the same shape, so the corpus-side
    whole-stage code is reused across steps; the literal side itself
    differs per step."""
    lits = ", ".join(
        "CAST(NULL AS BIGINT)" if v is None else f"{int(v)}L" for v in w_vals
    )
    return spark.range(1).selectExpr(f"array({lits}) AS w")


def _qc_score(feats: DataFrame, w_row: DataFrame) -> DataFrame:
    """Row-local forward pass against the one-row broadcast weight vector:
    z = round(w.x / 1e6), p = hard_sigmoid(z) — all micro-unit integers."""
    return feats.crossJoin(F.broadcast(w_row)).selectExpr(
        "doc_id", "x", "y", "w", f"{_QC_P_SQL} AS p"
    )


def _qc_step(feats: DataFrame, w_vals: list) -> list:
    """One full-batch gradient step: ONE partial-agg exchange collapsing
    the corpus onto (n, g_1..g_17), the 17-long update applied to the
    crossJoined one-row weight relation and collected as one model-sized
    row (the r10-sanctioned PQ-codebook / BPE-argmax collect class —
    never data-sized).

    r11 restructure (VERDICT r10 item 4): the old form chained the six
    steps into one lazy plan whose per-step Column-API construction cost
    ~0.7 s of py4j round-trips each (~3 s of driver time before any
    action, paid AGAIN by the final action — the 0.99 scaling ratio at
    8 vs 32 cores was this, not Catalyst).  Now each step is a constant
    SQL-string plan over the checkpointed features; the weights travel
    between steps as a collected 1-row literal relation, so values are
    bit-identical (same expressions over the same integers) and the
    update arithmetic never leaves Spark (engine ROUND stays engine
    ROUND — no Python rounding twin to drift).

    r10 NOTE — measured, do not "fix": riding w as 17 scalar max()
    columns plus an unrolled element_at dot inside the CHAINED plan
    LOOKED 2x faster under heavy host contention, but in a QUIET window
    it was ~1.3x SLOWER — optimizer + codegen cost of the wider trees.
    The literal-weight step keeps the compact zip_with fold."""
    spark = feats.sparkSession
    w_row = _qc_w_row(spark, w_vals)
    scored = feats.crossJoin(F.broadcast(w_row)).selectExpr(
        "x", "y", f"{_QC_P_SQL} AS p"
    )
    grad = scored.selectExpr("y", "p", "x").groupBy().agg(
        *[F.expr(e) for e in _QC_GRAD_SQL]
    )
    final = grad.crossJoin(_qc_w_row(spark, w_vals)).selectExpr(_QC_WNEW_SQL)
    return list(final.collect()[0]["w"])


def train_quality_classifier(
    feats: DataFrame, iters: int = _QC_ITERS
) -> DataFrame:
    """Train the fixed-point linear quality classifier; returns the one-row
    weight table (w: array<long>, micro-units).  API twin of the
    registered query — point it at any (doc_id, x, y) featurization.

    Runs EAGERLY: each of the ``iters`` steps executes its gradient job
    and collects the weight row when this is called; only the returned
    one-row table is a lazy plan."""
    spark = feats.sparkSession
    w_vals: list = [0] * _QC_NDIM
    for _ in range(iters):
        w_vals = _qc_step(feats, w_vals)
    return _qc_w_row(spark, w_vals)


@register(
    "quality_classifier",
    oracle=f"""
    WITH {_SQL_QC_FEATS},
    {_sql_qc_iters()}
    SELECT doc_id, y = 1000000 AS label, p AS p_micro,
           p >= 500000 AS pred, (y = 1000000) = (p >= 500000) AS correct
    FROM sfin
    """,
)
def quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained quality classifier (C71): logistic-style linear model over
    C34's hashed bag-of-words features, trained by {_QC_ITERS} full-batch
    gradient steps and then applied to the whole corpus — the
    fastText-style model-based filter GPT-3 (Brown et al. 2020 §A) and
    CCNet (Wenzek et al. 2020 §4.2) run after the rule screens.  The
    training labels come from a rule screen (stop-word density >= 10%,
    the C63 stop-word test as a density), so the model DISTILLS the rule
    into a hashed-feature scorer — exactly how production pipelines
    bootstrap a classifier without human labels.

    Determinism discipline: features are ppm-quantized counts, the link
    is the piecewise-linear hard sigmoid clamp(1/2 + z/4) in micro-units,
    and every division is a single correctly-rounded double op on
    integer operands followed by round() (half-away on both engines) —
    so Spark and the unrolled DuckDB CTE chain agree bit-for-bit at every
    iteration (the C15 kmeans contract; pytest carries a pure-Python
    twin of the whole training run).

    Scale shape: the featurization is ZERO-shuffle row-local hashing
    (C34); each training step is ONE partial-agg exchange collapsing the
    corpus onto a 17-long gradient row (map-side combine does the work);
    the weight vector rides through the aggregates so the {_QC_ITERS}
    steps chain into ONE job with a linear lineage — the driver never
    holds more than the model.  Gradient sums are BIGINT-exact up to
    ~1e12 docs per partition-tree; past that, swap the accumulator to
    decimal(38,0) — headroom noted, not needed at any test SF."""
    feats = _qc_features(spark, sf_dir).localCheckpoint(eager=True)
    w = train_quality_classifier(feats)
    scored = _qc_score(feats, w)
    return scored.select(
        "doc_id",
        (F.col("y") == 1000000).alias("label"),
        F.col("p").alias("p_micro"),
        (F.col("p") >= 500000).alias("pred"),
        ((F.col("y") == 1000000) == (F.col("p") >= 500000)).alias("correct"),
    )


# ---------------------------------------------------------------------------
# C73. corpus_e2e_pipeline — the composed end-to-end corpus-prep run
# (screens -> minhash dedup -> decontaminate -> stratified mix -> pack,
# with per-stage attrition counts; proves the single-operator family
# composes on ONE materialized corpus pass instead of re-scanning text
# per stage)

_E2E_MIN_WORDS = 30
_E2E_MAX_WORDS = 100_000
_E2E_MIN_STOPS = 2

# C7's band/verify SQL fragments, shared so the composed pipeline's dedup
# stage provably buckets and verifies EXACTLY like the standalone operator
# (module-level import is safe: dedup never imports pipeline)
from mapreduceimplementation_spark.operators.dedup import (  # noqa: E402
    _SQL_MH_CAND as _MH_CAND_SQL,
    _TAU as _MH_TAU,
)


def _e2e_stage(df: DataFrame, idx: int, name: str) -> DataFrame:
    return df.agg(
        F.lit(idx).cast("long").alias("stage"),
        F.lit(name).alias("name"),
        F.count(F.lit(1)).cast("long").alias("n_units"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
    ).select("stage", "name", "n_units", "n_tokens")


@register(
    "corpus_e2e_pipeline",
    oracle=f"""
    WITH stats AS (
        SELECT doc_id, lang, text,
               CAST(length(regexp_extract_all(text, '{{bpe}}')) AS BIGINT)
                   AS n_tokens,
               CAST(length(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT)
                   AS n_words,
               CAST(len(list_filter(string_split(text, ' '), w -> w <> ''))
                   AS BIGINT) AS n_tok_sp,
               CAST(len(list_filter(string_split(text, ' '),
                        w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT)
                   AS n_alpha,
               CAST(len(list_filter(string_split(text, ' '),
                        w -> w = 'the' OR w = 'a')) AS BIGINT) AS n_stops
        FROM documents WHERE text IS NOT NULL
    ),
    scr AS (
        SELECT * FROM stats
        WHERE 5 * n_alpha >= 4 * n_tok_sp
          AND n_words BETWEEN {_E2E_MIN_WORDS} AND {_E2E_MAX_WORDS}
          AND n_stops >= {_E2E_MIN_STOPS}
    ),
    ws AS ({{sh3}}),
    {{mh_cand}},
    e2ecommon AS (
        SELECT a_id, b_id, count(*) AS n_common
        FROM cand
        JOIN ws wa ON wa.doc_id = cand.a_id
        JOIN ws wb ON wb.doc_id = cand.b_id AND wb.sh = wa.sh
        GROUP BY a_id, b_id
    ),
    e2esz AS (SELECT doc_id, count(*) AS n FROM ws GROUP BY doc_id),
    verif AS (
        SELECT a_id, b_id FROM e2ecommon
        JOIN e2esz sa ON sa.doc_id = a_id
        JOIN e2esz sb ON sb.doc_id = b_id
        WHERE n_common * 1.0 / (sa.n + sb.n - n_common) >= {{tau}}
    ),
    dropped AS (SELECT DISTINCT b_id AS doc_id FROM verif),
    dd AS (SELECT * FROM scr
           WHERE doc_id NOT IN (SELECT doc_id FROM dropped)),
    sh4 AS ({{sh4}}),
    ev AS (SELECT DISTINCT sh FROM sh4 WHERE doc_id % {{evmod}} = 0),
    cont AS (SELECT DISTINCT doc_id FROM sh4 JOIN ev USING (sh)),
    dec AS (SELECT * FROM dd
            WHERE doc_id % {{evmod}} <> 0
              AND doc_id NOT IN (SELECT doc_id FROM cont)),
    samp AS (SELECT * FROM dec
             WHERE {{samphash}} % 100 < {{ratecase}}),
    placed AS (
        SELECT n_tokens,
               CAST(sum(n_tokens) OVER (
                   PARTITION BY h % {{buckets}} ORDER BY h, doc_id
                   ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT)
                   AS start_tok,
               h % {{buckets}} AS bucket
        FROM (SELECT doc_id, n_tokens, {{packhash}} AS h FROM samp)
    ),
    packrows AS (
        SELECT bucket * {{ns}} + start_tok // {{budget}} AS seq_id, n_tokens
        FROM placed
    )
    SELECT CAST(0 AS BIGINT) AS stage, 'raw' AS name,
           CAST(count(*) AS BIGINT) AS n_units,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens FROM stats
    UNION ALL SELECT 1, 'screened', CAST(count(*) AS BIGINT),
           CAST(sum(n_tokens) AS BIGINT) FROM scr
    UNION ALL SELECT 2, 'deduped', CAST(count(*) AS BIGINT),
           CAST(sum(n_tokens) AS BIGINT) FROM dd
    UNION ALL SELECT 3, 'decontaminated', CAST(count(*) AS BIGINT),
           CAST(sum(n_tokens) AS BIGINT) FROM dec
    UNION ALL SELECT 4, 'sampled', CAST(count(*) AS BIGINT),
           CAST(sum(n_tokens) AS BIGINT) FROM samp
    UNION ALL SELECT 5, 'packed', CAST(count(DISTINCT seq_id) AS BIGINT),
           CAST(sum(n_tokens) AS BIGINT) FROM packrows
    """.format(
        bpe=_BPE_RE,
        sh3=sql_word_ngrams(3, "scr"),
        sh4=sql_word_ngrams(4, "stats"),
        mh_cand=_MH_CAND_SQL,
        tau=_MH_TAU,
        evmod=_DECON_EVAL_MOD,
        samphash=sql_hash64("'sample-' || CAST(doc_id AS VARCHAR)"),
        ratecase=_sample_rate_case(),
        packhash=sql_hash64("'pack-' || CAST(doc_id AS VARCHAR)"),
        buckets=_PACK_BUCKETS,
        ns=1 << 40,
        budget=_PACK_BUDGET,
    ),
)
def corpus_e2e_pipeline(
    spark: SparkSession, sf_dir: str, checkpoint: bool = True
) -> DataFrame:
    """Composed corpus-prep pipeline (C73): quality screens (C63/C65's
    rule style) -> MinHash-LSH near-dup removal (C7's exact machinery) ->
    benchmark decontamination (C27) -> stratified language mix (C20) ->
    sequence packing (C29), reported as a per-stage attrition table
    (stage, name, n_units, n_tokens) — the end-to-end manifest a
    training-data run publishes.

    Dedup survivor rule: a doc is dropped iff a SMALLER doc_id is a
    verified near-dup of it (j >= {_TAU} on the shared word-3gram
    shingles) — the standard greedy keep-first; C18's connected-component
    clustering is the heavier alternative when transitive grouping is
    wanted.  The decontamination eval set is C27's (doc_id % 50 = 0),
    which is also EXCLUDED from the output (it is eval, not training).

    Scale shape — the composition contract: the corpus text is scanned
    ONCE into a materialized base relation carrying per-doc stats and
    both shingle widths (localCheckpoint; ~a few x text size — the price
    of not re-scanning 100 TB per stage, the same trade a staged
    production run makes by writing intermediate manifests).  Every
    stage then consumes that relation: the screens are row-local
    filters; dedup exchanges only band keys and candidate shingles; the
    eval shingle set and the drop/contaminated id sets are broadcast
    anti-joins (near-dup + contamination volume, not corpus volume); the
    mix is a row-local hash filter; packing is C29's bucketed window.
    The pytest plan gate counts exactly ONE parquet scan of documents in
    the whole composed run."""
    from mapreduceimplementation_spark.operators.dedup import (
        _bucket_pairs,
        _mh_bands,
        _SHINGLE_N,
        _TAU,
        _verified_pairs,
    )

    docs = spread(
        load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text"),
        spark,
    )
    toks = F.filter(F.split("text", " "), lambda w: w != F.lit(""))
    base = (
        docs.where(F.col("text").isNotNull())
        .select(
            "doc_id",
            "lang",
            word_array("text").alias("ws"),
            F.regexp_count("text", F.lit(_BPE_RE)).cast("long").alias(
                "n_tokens"
            ),
            F.regexp_count("text", F.lit("[A-Za-z]+")).cast("long").alias(
                "n_words"
            ),
            F.size(toks).cast("long").alias("n_tok_sp"),
            F.size(F.filter(toks, lambda w: w.rlike("[A-Za-z]")))
            .cast("long")
            .alias("n_alpha"),
            F.size(
                F.filter(toks, lambda w: (w == F.lit("the")) | (w == F.lit("a")))
            )
            .cast("long")
            .alias("n_stops"),
        )
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            "n_words",
            "n_tok_sp",
            "n_alpha",
            "n_stops",
            F.array_distinct(ngrams_of_words("ws", _SHINGLE_N)).alias("sh3"),
            F.array_distinct(ngrams_of_words("ws", 4)).alias("sh4"),
        )
    )
    if checkpoint:
        base = base.localCheckpoint(eager=True)

    scr = base.where(
        (5 * F.col("n_alpha") >= 4 * F.col("n_tok_sp"))
        & F.col("n_words").between(_E2E_MIN_WORDS, _E2E_MAX_WORDS)
        & (F.col("n_stops") >= _E2E_MIN_STOPS)
    )
    # --- dedup: C7's band/verify machinery over the materialized shingles
    bands = _mh_bands(scr.select("doc_id", F.col("sh3").alias("sh_arr")))
    cand = (
        _bucket_pairs(bands, ["band", "bkey"], ["doc_id"])
        .select(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .distinct()
    )
    sh = scr.select("doc_id", F.explode_outer("sh3").alias("sh"))
    if checkpoint:
        cand = cand.localCheckpoint(eager=False)
        sh = sh.localCheckpoint(eager=False)
    dropped = (
        _verified_pairs(cand, None, _TAU, sh=sh)
        .select(F.col("b_id").alias("doc_id"))
        .distinct()
    )
    dd = scr.join(F.broadcast(dropped), "doc_id", "left_anti")
    # --- decontaminate: C27's broadcast eval shingle set (+ drop eval docs)
    is_eval = F.col("doc_id") % _DECON_EVAL_MOD == 0
    ev = (
        base.where(is_eval)
        .select(F.explode_outer("sh4").alias("ev_sh"))
        .distinct()
    )
    cont = (
        dd.select("doc_id", F.explode_outer("sh4").alias("sh"))
        .join(F.broadcast(ev), F.col("sh") == F.col("ev_sh"))
        .select("doc_id")
        .distinct()
    )
    dec = dd.where(~is_eval).join(F.broadcast(cont), "doc_id", "left_anti")
    # --- stratified mix: C20's per-language hash rates
    rate = None
    for lang, pct in sorted(_SAMPLE_RATES.items()):
        rate = (
            F.when(F.col("lang") == lang, pct)
            if rate is None
            else rate.when(F.col("lang") == lang, pct)
        )
    bucket = (
        hash64(F.concat(F.lit("sample-"), F.col("doc_id").cast("string"))) % 100
    )
    samp = dec.where(bucket < rate.otherwise(0))
    if checkpoint:
        samp = samp.localCheckpoint(eager=False)
    # --- pack: C29's bucketed running-sum placement
    h = hash64(F.concat(F.lit("pack-"), F.col("doc_id").cast("string")))
    w = (
        Window.partitionBy(F.col("h") % _PACK_BUCKETS)
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    placed = samp.select("doc_id", "n_tokens", h.alias("h")).select(
        "n_tokens",
        (F.col("h") % _PACK_BUCKETS).alias("bucket"),
        (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("start_tok"),
    )
    packrows = placed.select(
        (
            F.col("bucket") * (1 << 40)
            + F.floor(F.col("start_tok") / _PACK_BUDGET)
        ).alias("seq_id"),
        "n_tokens",
    )
    packed = packrows.agg(
        F.lit(5).cast("long").alias("stage"),
        F.lit("packed").alias("name"),
        F.countDistinct("seq_id").cast("long").alias("n_units"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
    ).select("stage", "name", "n_units", "n_tokens")

    out = _e2e_stage(base, 0, "raw")
    for i, (nm, rel) in enumerate(
        [("screened", scr), ("deduped", dd), ("decontaminated", dec), ("sampled", samp)],
        start=1,
    ):
        out = out.unionByName(_e2e_stage(rel, i, nm))
    return out.unionByName(packed)


# ---------------------------------------------------------------------------
# C75. quality_classifier_eval — held-out evaluation of the C71 trainer
# (the eval step every trained filter needs before it gates a corpus:
# train on C16's 80% split, report the confusion matrix per split)

_QCE_SPLIT_H = sql_hash64("'split-' || CAST(doc_id AS VARCHAR)")
_QCE_TRAIN = f"{_QCE_SPLIT_H} % 100 < 80"


@register(
    "quality_classifier_eval",
    oracle=f"""
    WITH {_SQL_QC_FEATS},
    {_sql_qc_iters(train_filter=_QCE_TRAIN)},
    verdicts AS (
        SELECT CASE WHEN {_QCE_SPLIT_H} % 100 < 80 THEN 'train'
                    WHEN {_QCE_SPLIT_H} % 100 < 90 THEN 'val'
                    ELSE 'test' END AS split,
               y = 1000000 AS label, p >= 500000 AS pred
        FROM sfin
    )
    SELECT split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN label AND pred THEN 1 ELSE 0 END) AS BIGINT)
               AS tp,
           CAST(sum(CASE WHEN NOT label AND pred THEN 1 ELSE 0 END) AS BIGINT)
               AS fp,
           CAST(sum(CASE WHEN label AND NOT pred THEN 1 ELSE 0 END) AS BIGINT)
               AS fn,
           CAST(sum(CASE WHEN NOT label AND NOT pred THEN 1 ELSE 0 END)
               AS BIGINT) AS tn,
           CAST(sum(CASE WHEN label = pred THEN 1 ELSE 0 END) * 1000000
                // count(*) AS BIGINT) AS accuracy_ppm
    FROM verdicts GROUP BY split
    """,
)
def quality_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out evaluation of the trained quality classifier (C75): the
    C71 trainer restricted to C16's 80% train split — centering
    statistics AND gradients see ONLY train docs, the no-leakage rule —
    then scored over the whole corpus and read out as a per-split
    confusion matrix (n, tp/fp/fn/tn, accuracy ppm).  Train vs val/test
    accuracy side by side is the generalization readout every
    model-based filter publishes before it gates a corpus.

    Same scale shape as C71 (zero-shuffle featurization, one partial-agg
    exchange per step, one-job chained training); the split is C16's
    portable doc_id hash, so the eval set is rerun- and growth-stable.
    Integer-ppm accuracy via BIGINT floor division (identical both
    engines)."""
    split_bucket = (
        hash64(F.concat(F.lit("split-"), F.col("doc_id").cast("string"))) % 100
    )
    is_train = split_bucket < 80
    feats = _qc_features(spark, sf_dir, center_on=is_train).localCheckpoint(
        eager=True
    )
    w = train_quality_classifier(feats.where(is_train))
    scored = _qc_score(feats, w)
    verdicts = scored.select(
        F.when(split_bucket < 80, "train")
        .when(split_bucket < 90, "val")
        .otherwise("test")
        .alias("split"),
        (F.col("y") == 1000000).alias("label"),
        (F.col("p") >= 500000).alias("pred"),
    )
    agg = verdicts.groupBy("split").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("label") & F.col("pred"), 1).otherwise(0))
        .cast("long")
        .alias("tp"),
        F.sum(F.when(~F.col("label") & F.col("pred"), 1).otherwise(0))
        .cast("long")
        .alias("fp"),
        F.sum(F.when(F.col("label") & ~F.col("pred"), 1).otherwise(0))
        .cast("long")
        .alias("fn"),
        F.sum(F.when(~F.col("label") & ~F.col("pred"), 1).otherwise(0))
        .cast("long")
        .alias("tn"),
        F.sum(F.when(F.col("label") == F.col("pred"), 1).otherwise(0))
        .cast("long")
        .alias("n_correct"),
    )
    return agg.selectExpr(
        "split",
        "n_docs",
        "tp",
        "fp",
        "fn",
        "tn",
        "(n_correct * 1000000L) div n_docs as accuracy_ppm",
    )


# ---------------------------------------------------------------------------
# C77. corpus_shuffle_shards — deterministic training-order shuffle into
# contiguous shards (the "global shuffle before training" step)

#: shard count.  16 here so every shard has real mass at sf0.01; at 100 TB
#: this is ~1e5 (pick shards ≈ corpus / target-file-size) — the machinery
#: below is shard-count-independent.
_SHUF_SHARDS = 16
#: hash64 is 60 bits; the top log2(_SHUF_SHARDS) bits pick the shard, so a
#: shard is a CONTIGUOUS key range — that is what makes the physical write
#: a range partition + local sort instead of a global sort.  Derived from
#: _SHUF_SHARDS (which must be a power of two) so changing the shard count
#: cannot silently desynchronize the shift (ADVICE r7).
_SHUF_SHIFT = 60 - (_SHUF_SHARDS.bit_length() - 1)
assert 1 << (60 - _SHUF_SHIFT) == _SHUF_SHARDS, "_SHUF_SHARDS must be 2^k"


@register(
    "corpus_shuffle_shards",
    oracle=f"""
    WITH keyed AS (
        SELECT doc_id, n_chars,
               {sql_hash64("'shuf-' || CAST(doc_id AS VARCHAR)")} AS skey
        FROM documents WHERE text IS NOT NULL
    )
    SELECT doc_id, n_chars,
           skey >> {_SHUF_SHIFT} AS shard,
           CAST(row_number() OVER w AS BIGINT) AS pos_in_shard,
           CAST(coalesce(sum(n_chars) OVER (
               PARTITION BY skey >> {_SHUF_SHIFT} ORDER BY skey, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS start_offset
    FROM keyed
    WINDOW w AS (PARTITION BY skey >> {_SHUF_SHIFT} ORDER BY skey, doc_id)
    """,
)
def corpus_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus shuffle into training shards: the last step of
    a data pipeline randomizes document ORDER (breaking source/time
    locality so consecutive training batches are i.i.d.-ish) and writes
    fixed-size shard files each carrying (position, byte-offset) so a
    data loader can seek.  The permutation is hash64('shuf-'||doc_id) —
    a pure function of doc_id, so the shuffle order is rerun-stable and
    fully oracle-checkable (no rand()), yet uniform over the corpus.

    Output is the loader manifest row per doc: shard (top 4 bits of the
    key — shard = contiguous key range), pos_in_shard, and start_offset
    (sum of preceding docs' n_chars in shard order — the seek offset).

    Scale shape: keys are row-local md5 arithmetic over the (doc_id,
    n_chars) projection — text is never read or shuffled.  Because a
    shard is a contiguous key range, the physical 100 TB write is
    ``repartitionByRange(skey).sortWithinPartitions(skey)`` — Spark's
    range-exchange sampler does the boundary estimation and there is NO
    global sort; this registered query computes the same assignment with
    one hash exchange on the bounded shard id (uniform by construction:
    top bits of a uniform hash), and the per-shard window sorts only
    corpus/shards rows — the shard count is the knob that keeps that
    slice executor-sized."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select("doc_id", "n_chars")
    )
    keyed = docs.select(
        "doc_id",
        "n_chars",
        F.shiftright(
            hash64(F.concat(F.lit("shuf-"), F.col("doc_id").cast("string"))),
            _SHUF_SHIFT,
        ).alias("shard"),
        hash64(F.concat(F.lit("shuf-"), F.col("doc_id").cast("string"))).alias(
            "skey"
        ),
    )
    w = Window.partitionBy("shard").orderBy("skey", "doc_id")
    return keyed.select(
        "doc_id",
        "n_chars",
        "shard",
        F.row_number().over(w).cast("long").alias("pos_in_shard"),
        F.coalesce(
            F.sum("n_chars").over(w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        )
        .cast("long")
        .alias("start_offset"),
    )


# ---------------------------------------------------------------------------
# C79. source_kl_divergence — per-source domain shift vs the corpus
# (Moore-Lewis-style distributional diagnostic over hashed unigrams)

#: add-one smoothing over the same hashed-unigram space as C64 (DSIR) —
#: bucket-bounded state is what makes the sketch scale-free
_KL_B = _DSIR_B
#: per-(source, bucket) KL contribution quantization (decimal places).
#: p ~ 1e-5 at this bucket count, so 12dp keeps ~7 significant digits
#: while making the per-source sum an EXACT decimal fold (C64's rule:
#: never sum raw doubles across a shuffle).
_KL_DP = 12

#: the per-(source, bucket) KL contribution p*ln(p/q) — ONE definition
#: formatted into the oracle; the Spark twin mirrors it expression-for-
#: expression (p, q smoothed add-one over the bucket space)
_KL_CONTRIB_SQL = (
    f"((c + 1.0) / (n_tokens + {float(_KL_B)}))"
    f" * ln(((c + 1.0) / (n_tokens + {float(_KL_B)}))"
    f"      / ((cc + 1.0) / (n + {float(_KL_B)})))"
)


@register(
    "source_kl_divergence",
    oracle=f"""
    WITH feats AS (
        SELECT source,
               {sql_hash64("'dsir-' || w")} % {_KL_B} AS b
        FROM (SELECT source,
                     unnest(list_filter(regexp_split_to_array(lower(text),
                                                              '[^a-z]+'),
                                        x -> x <> '')) AS w
              FROM documents WHERE text IS NOT NULL)
    ), sb AS (
        SELECT source, b, CAST(count(*) AS BIGINT) AS c
        FROM feats GROUP BY 1, 2
    ), ns AS (
        SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens
        FROM sb GROUP BY 1
    ), cb AS (
        SELECT b, CAST(sum(c) AS BIGINT) AS cc FROM sb GROUP BY 1
    ), tot AS (
        SELECT CAST(sum(cc) AS BIGINT) AS n FROM cb
    ), grid AS (
        SELECT ns.source, ns.n_tokens, t.b,
               coalesce(sb.c, 0) AS c,
               coalesce(cb.cc, 0) AS cc
        FROM ns
        CROSS JOIN (SELECT unnest(range(0, {_KL_B})) AS b) t
        LEFT JOIN sb ON sb.source = ns.source AND sb.b = t.b
        LEFT JOIN cb ON cb.b = t.b
    ), contrib AS (
        SELECT source, n_tokens,
               CAST({sql_half_away(_KL_CONTRIB_SQL, _KL_DP)}
                    AS DECIMAL(24,{_KL_DP})) AS v
        FROM grid, tot
    )
    SELECT source, n_tokens,
           CAST(sum(v) AS DOUBLE) AS kl_nats
    FROM contrib GROUP BY 1, 2
    """,
)
def source_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distribution shift: KL(P_source || P_corpus) over the
    C64 hashed-unigram bucket space with add-one smoothing — the
    corpus-composition diagnostic behind Moore-Lewis-style domain
    selection (a source with high KL is lexically far from the mix;
    near-zero means it IS the mix).  C64 scores each DOCUMENT against a
    target; this profiles each SOURCE against the whole corpus — the
    table a data-mixing decision (C23/C20) reads first.

    Determinism: every (source, bucket) contribution p·ln(p/q) is
    half-away-quantized to {_KL_DP}dp DECIMAL before the per-source sum
    (an exact decimal fold — C64's rule), so the result is bit-stable
    across engines and partitionings despite ln().

    Scale shape: ONE corpus scan folds word occurrences into the
    (source, bucket) table — a partial-agg exchange bounded by
    sources × {_KL_B}, never vocab or corpus size — localCheckpoint'ed
    before fan-out (three consumers; SURVEY §6 rule); everything after
    is arithmetic over that bounded grid (sources × buckets rows) with
    single-row/512-row broadcasts.  The model-sized-state shape that
    runs unchanged at 100 TB."""
    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    ws = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z]+"), lambda x: x != F.lit("")
    )
    feats = (
        docs.where(F.col("text").isNotNull())
        .select("source", F.explode(ws).alias("w"))
        .select(
            "source",
            (hash64(F.concat(F.lit("dsir-"), F.col("w"))) % _KL_B).alias("b"),
        )
    )
    sb = (
        feats.groupBy("source", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=True)
    )
    ns = sb.groupBy("source").agg(F.sum("c").cast("long").alias("n_tokens"))
    cb = sb.groupBy("b").agg(F.sum("c").cast("long").alias("cc"))
    tot = cb.agg(F.sum("cc").cast("long").alias("n"))
    buckets = spark.range(_KL_B).select(F.col("id").alias("b"))
    grid = (
        ns.crossJoin(F.broadcast(buckets))
        .join(sb, ["source", "b"], "left")
        .join(F.broadcast(cb), ["b"], "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_tokens",
            F.coalesce("c", F.lit(0)).alias("c"),
            F.coalesce("cc", F.lit(0)).alias("cc"),
            "n",
        )
    )
    p = (F.col("c") + 1.0) / (F.col("n_tokens") + F.lit(float(_KL_B)))
    q = (F.col("cc") + 1.0) / (F.col("n") + F.lit(float(_KL_B)))
    contrib = half_away(p * F.log(p / q), _KL_DP).cast(
        f"decimal(24,{_KL_DP})"
    )
    return (
        grid.select("source", "n_tokens", contrib.alias("v"))
        .groupBy("source", "n_tokens")
        .agg(F.sum("v").cast("double").alias("kl_nats"))
        .select("source", "n_tokens", "kl_nats")
    )
