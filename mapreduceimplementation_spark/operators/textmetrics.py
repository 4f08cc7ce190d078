"""Text-analysis operators for LLM-data pipelines (SURVEY.md §2 C2–C5):
token counting, quality scoring, language ID, document fingerprinting.

All per-row arithmetic on built-in functions (whole-stage codegen, no
shuffle except the fingerprint's per-doc top-k) — these run at scan speed
on 100 TB and are the filters you put *before* expensive dedup stages.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduceimplementation_spark.functions.hashing import hash64, sql_hash64
from mapreduceimplementation_spark.functions.stable import (
    half_away,
    py_half_away,
    round6,
    sql_half_away,
    sql_round6,
)
from mapreduceimplementation_spark.functions.text import (
    char_ngrams,
    ngrams_of_words,
    sql_word_ngrams,
    word_array,
)
from mapreduceimplementation_spark.registry import register
from mapreduceimplementation_spark.session import spread
from mapreduceimplementation_spark.sources.tables import load_table

# BPE-ish pre-tokenizer: letter runs, digit runs, single punctuation —
# ASCII classes only so Java regex (Spark) and RE2 (DuckDB) agree.
_BPE_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"
_WS_RE = "[^ ]+"

_STOPWORDS = ("the", "a", "of", "to", "and", "in", "is")


@register(
    "token_count",
    oracle=f"""
    SELECT doc_id,
           CAST(length(regexp_extract_all(text, '{_WS_RE}')) AS BIGINT) AS n_ws_tokens,
           CAST(length(regexp_extract_all(text, '{_BPE_RE}')) AS BIGINT) AS n_bpe_tokens,
           CAST(length(text) AS BIGINT) AS n_chars_actual
    FROM documents WHERE text IS NOT NULL
    """,
)
def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish token counts per document — the unit used for
    dataset size accounting and length filtering."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.where(F.col("text").isNotNull()).select(
        "doc_id",
        F.regexp_count("text", F.lit(_WS_RE)).cast("long").alias("n_ws_tokens"),
        F.regexp_count("text", F.lit(_BPE_RE)).cast("long").alias("n_bpe_tokens"),
        F.length("text").cast("long").alias("n_chars_actual"),
    )


_SQL_STOP_RE = "\\b(" + "|".join(_STOPWORDS) + ")\\b"


@register(
    "quality_score",
    oracle=f"""
    SELECT doc_id, n_words, stop_ratio, punct_ratio, score
    FROM (
        SELECT doc_id,
               n_words,
               {sql_round6('CASE WHEN n_words > 0 THEN n_stop * 1.0 / n_words ELSE 0.0 END')} AS stop_ratio,
               {sql_round6('CASE WHEN n_chars_a > 0 THEN n_punct * 1.0 / n_chars_a ELSE 0.0 END')} AS punct_ratio,
               {sql_round6('''(CASE WHEN n_words > 0 THEN n_stop * 1.0 / n_words ELSE 0.0 END) * 0.5
                 + (1.0 - (CASE WHEN n_chars_a > 0 THEN n_punct * 1.0 / n_chars_a ELSE 0.0 END)) * 0.3
                 + (CASE WHEN n_words < 100 THEN n_words ELSE 100 END) * 1.0 / 100 * 0.2''')} AS score
        FROM (
            SELECT doc_id,
                   CAST(length(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT) AS n_words,
                   CAST(length(regexp_extract_all(lower(text), '{_SQL_STOP_RE}')) AS BIGINT) AS n_stop,
                   CAST(length(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS BIGINT) AS n_punct,
                   CAST(length(text) AS BIGINT) AS n_chars_a
            FROM documents WHERE text IS NOT NULL
        )
    )
    """,
)
def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document quality: stopword ratio (fluency proxy),
    punctuation density, length saturation — pure +-*/ so the score is
    bit-identical on any engine (no exp/log libm variance)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.where(F.col("text").isNotNull()).select(
        "doc_id",
        F.regexp_count("text", F.lit("[A-Za-z]+")).cast("long").alias("n_words"),
        F.regexp_count(F.lower("text"), F.lit(_SQL_STOP_RE)).cast("long").alias("n_stop"),
        F.regexp_count("text", F.lit("[^A-Za-z0-9 ]")).cast("long").alias("n_punct"),
        F.length("text").cast("long").alias("n_chars_a"),
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
    return base.select(
        "doc_id",
        "n_words",
        round6(stop_ratio).alias("stop_ratio"),
        round6(punct_ratio).alias("punct_ratio"),
        round6(stop_ratio * 0.5 + (1.0 - punct_ratio) * 0.3 + length_sat * 0.2).alias(
            "score"
        ),
    )


# Language stopword profiles (n-gram heuristic).  The corpus is synthetic so
# this is demonstrative, but the plan shape is the real one: K regexp counts
# + deterministic argmax, no Python.
_LANG_PROFILES = {
    "de": ("der", "die", "das", "und", "ist"),
    "en": ("the", "a", "is", "of", "and"),
    "es": ("el", "la", "de", "que", "es"),
    "fr": ("le", "la", "les", "et", "est"),
    "zh": ("de", "le", "shi", "bu", "zai"),
}


def _lang_re(lang: str) -> str:
    return "\\b(" + "|".join(_LANG_PROFILES[lang]) + ")\\b"


_LANGS = sorted(_LANG_PROFILES)  # alphabetical = deterministic tie-break


def _argmax_sql() -> str:
    # CASE chain: first lang (alphabetical) whose score >= all later ones
    clauses = []
    for i, li in enumerate(_LANGS):
        conds = [f"s_{li} >= s_{lj}" for lj in _LANGS[i + 1 :]]
        cond = " AND ".join(conds) if conds else "TRUE"
        clauses.append(f"WHEN {cond} THEN '{li}'")
    return "CASE " + " ".join(clauses) + " END"


@register(
    "lang_id",
    oracle=f"""
    SELECT doc_id, {_argmax_sql()} AS pred_lang,
           {" + ".join(f"s_{l}" for l in _LANGS)} AS total_hits
    FROM (
        SELECT doc_id,
               {", ".join(
                   f"CAST(length(regexp_extract_all(lower(text), '{_lang_re(l)}')) AS BIGINT) AS s_{l}"
                   for l in _LANGS
               )}
        FROM documents WHERE text IS NOT NULL
    )
    """,
)
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language ID with a deterministic alphabetical
    tie-break (greatest-score argmax)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.where(F.col("text").isNotNull()).select(
        "doc_id",
        *[
            F.regexp_count(F.lower("text"), F.lit(_lang_re(l))).cast("long").alias(f"s_{l}")
            for l in _LANGS
        ],
    )
    pred = None
    for i, li in enumerate(_LANGS):
        cond = F.lit(True)
        for lj in _LANGS[i + 1 :]:
            cond = cond & (F.col(f"s_{li}") >= F.col(f"s_{lj}"))
        pred = F.when(cond, li) if pred is None else pred.when(cond, li)
    total = None
    for l in _LANGS:
        total = F.col(f"s_{l}") if total is None else total + F.col(f"s_{l}")
    return base.select("doc_id", pred.alias("pred_lang"), total.alias("total_hits"))


_FP_N = 8  # shingle width
_FP_K = 4  # k smallest shingle hashes kept per doc


@register(
    "doc_fingerprint",
    oracle=f"""
    WITH sh AS (
        SELECT DISTINCT doc_id, sh FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, greatest(length(text) - {_FP_N - 1}, 0) + 1),
                          i -> substr(text, i::INT, {_FP_N}))) AS sh
            FROM documents WHERE text IS NOT NULL AND length(text) >= {_FP_N}
        )
    ), hashed AS (
        SELECT doc_id, {sql_hash64("sh")} AS h,
               row_number() OVER (PARTITION BY doc_id ORDER BY {sql_hash64("sh")}) AS rn
        FROM sh
    )
    SELECT doc_id,
           string_agg(CAST(h AS VARCHAR), ',' ORDER BY h) AS fingerprint,
           min(h) AS min_hash
    FROM hashed WHERE rn <= {_FP_K}
    GROUP BY doc_id
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: k-smallest shingle hashes (winnowing-style
    k-min sketch over a rolling window of char {n}-grams).  The sketch is a
    compact, mergeable identity for near-dup detection and incremental
    corpus diffing.

    The whole sketch is **row-local** — distinct/hash/sort/slice as array
    expressions inside whole-stage codegen, ZERO exchanges in the plan
    (asserted by tests/test_textmetrics_plan.py).  A 100 TB corpus produces
    its 32-byte-per-doc sketches at scan speed; the earlier formulation
    (explode + distinct + window) shuffled every shingle twice."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    hashes = F.array_sort(
        F.transform(F.array_distinct(char_ngrams("text", _FP_N)), lambda s: hash64(s))
    )
    return (
        docs.where(F.col("text").isNotNull() & (F.length("text") >= _FP_N))
        .select("doc_id", hashes.alias("hs"))
        .select(
            "doc_id",
            F.array_join(
                F.transform(F.slice("hs", 1, _FP_K), lambda x: x.cast("string")), ","
            ).alias("fingerprint"),
            F.element_at("hs", 1).alias("min_hash"),
        )
    )


# ---------------------------------------------------------------------------
# C17. tfidf_top_terms

_TFIDF_K = 5

_SQL_TFIDF_WORDS = """
    SELECT doc_id, w AS word
    FROM (
        SELECT doc_id, unnest(regexp_split_to_array(text, '[^A-Za-z]+')) AS w
        FROM documents
    )
    WHERE w <> ''
"""


@register(
    "tfidf_top_terms",
    oracle=f"""
    WITH toks AS ({_SQL_TFIDF_WORDS}),
    tf AS (SELECT doc_id, word, count(*) AS tf FROM toks GROUP BY doc_id, word),
    wdf AS (SELECT *, count(*) OVER (PARTITION BY word) AS df FROM tf),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT doc_id, word, tf, df,
               {sql_round6('tf * ln(CAST(n.n_docs AS DOUBLE) / df)')} AS tfidf
        FROM wdf CROSS JOIN n
    )
    SELECT doc_id, word, tf, df, tfidf, rank FROM (
        SELECT *, CAST(row_number() OVER (
            PARTITION BY doc_id ORDER BY tfidf DESC, word) AS INT) AS rank
        FROM scored
    ) WHERE rank <= {_TFIDF_K}
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 (_TFIDF_K) TF-IDF terms per document — the canonical continuation of
    the reference's inverted index (src/mrapps/indexer.go builds the
    word→docs map; TF-IDF weighs it).

    Scale shape: the corpus is tokenized ONCE and every exchange carries
    shrinking data — (1) tf aggregation on (doc, word), partial-agg
    combining repeats map-side; (2) document frequency as a COUNT window
    over tf partitioned by word (a window on the already-aggregated cells
    — not a second aggregation branch, which would re-scan and
    re-tokenize the corpus: Spark does not reuse the tf subtree across
    consumers); (3) the per-doc top-k window.  The corpus-size constant N
    comes from a doc_id-only scan of the documents table (no
    tokenization) and rides a one-row broadcast — N counts ALL documents
    including wordless ones, the standard idf denominator.  Ranking uses
    the ROUNDED score with a word tie-break so the top-k frontier is
    deterministic across engines — ln() may differ by an ulp between libm
    and the JVM, so ordering on the raw double would be engine-dependent.
    """
    from mapreduceimplementation_spark.functions.text import word_tokens
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tf = (
        word_tokens(docs)
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    wdf = tf.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("word")))
    n = load_table(spark, sf_dir, "documents").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    scored = wdf.crossJoin(F.broadcast(n)).select(
        "doc_id",
        "word",
        "tf",
        "df",
        round6(
            F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df"))
        ).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "word")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _TFIDF_K)
        .select("doc_id", "word", "tf", "df", "tfidf", "rank")
    )


# ---------------------------------------------------------------------------
# C19. top_terms_per_source

_TV_K = 5

@register(
    "top_terms_per_source",
    oracle=f"""
    WITH toks AS (
        SELECT source, w AS word
        FROM (
            SELECT source, unnest(regexp_split_to_array(text, '[^A-Za-z]+')) AS w
            FROM documents
        )
        WHERE w <> ''
    ), tf AS (
        SELECT source, word, count(*) AS cnt FROM toks GROUP BY source, word
    )
    SELECT source, word, cnt, rank FROM (
        SELECT *, CAST(row_number() OVER (
            PARTITION BY source ORDER BY cnt DESC, word) AS INT) AS rank
        FROM tf
    ) WHERE rank <= {_TV_K}
    """,
)
def top_terms_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term vector per source — the MapReduce paper's "term-vector per
    host" example (§2.1 of Dean & Ghemawat 2004; the reference implements
    the sibling examples wc.go / indexer.go): the most frequent words of
    each document origin, used for source-level profiling and corpus
    mixing decisions.

    Scale shape: tokenize the corpus once, ONE partial-aggregated exchange
    on (source, word) — repeats combine map-side so the shuffle carries
    vocabulary-sized cells, not token occurrences — then a top-k window
    over the aggregated cells only.  The window partitions by source
    (bounded cardinality), which is safe AFTER aggregation: per-source
    cell counts are vocabulary-bounded, while windowing the raw token
    stream would put every token of a hot source in one task.  Ranking
    ties break on the word itself, so the frontier is deterministic."""
    from pyspark.sql.window import Window

    from mapreduceimplementation_spark.functions.text import word_tokens

    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    tf = (
        word_tokens(docs)
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("source").orderBy(F.col("cnt").desc(), "word")
    return (
        tf.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _TV_K)
        .select("source", "word", "cnt", "rank")
    )


# ---------------------------------------------------------------------------
# C25. heavy_hitters_cms

_CMS_D = 4  # hash rows
_CMS_W = 64  # buckets per row
_CMS_TOPN = 10


#: Shared oracle text for C25 and its streaming twin D15 — the stream's
#: per-day cells merged across days are count-identical to this batch
#: sketch, so ONE oracle certifies both (the B65/D14 shared-fragment rule).
_CMS_ORACLE = f"""
    WITH cells AS (
        SELECT d, bucket, count(*) AS cell
        FROM (
            SELECT t.d,
                   {sql_hash64("'cms-' || t.d || '-' || CAST(user_id AS VARCHAR)")}
                       % {_CMS_W} AS bucket
            FROM events, (SELECT unnest(range({_CMS_D})) AS d) t
        )
        GROUP BY d, bucket
    ), exact AS (
        SELECT user_id, count(*) AS exact_n
        FROM events GROUP BY user_id
        ORDER BY exact_n DESC, user_id LIMIT {_CMS_TOPN}
    )
    SELECT user_id, exact_n, CAST(min(cell) AS BIGINT) AS cms_n
    FROM (
        SELECT e.user_id, e.exact_n, t.d,
               {sql_hash64("'cms-' || t.d || '-' || CAST(e.user_id AS VARCHAR)")}
                   % {_CMS_W} AS bucket
        FROM exact e, (SELECT unnest(range({_CMS_D})) AS d) t
    ) q JOIN cells USING (d, bucket)
    GROUP BY user_id, exact_n
    """


@register("heavy_hitters_cms", oracle=_CMS_ORACLE)
def heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via a count-min sketch: the top-10 users by event
    volume with their CMS frequency estimate next to the exact count —
    the bounded-state sketch family member beyond minhash/simhash/HLL.

    The sketch is _CMS_D hash rows x _CMS_W buckets of COUNTS — constant
    memory regardless of key cardinality; estimate = min over rows of
    the key's bucket (never an undercount, collisions only inflate).
    Hashing is the portable md5-derived hash64, so the whole sketch —
    cell values included — is bit-identical in the DuckDB oracle: a
    DETERMINISTIC sketch, reproducible across engines, cluster sizes
    and reruns.

    Scale shape: the sketch is one explode(x_CMS_D) + partial-agg exchange
    into at most D x W cells (the shuffle carries bounded cells, not
    users); the exact side is a second aggregation kept deliberately —
    in production only the sketch path runs over the stream, and the
    exact path is the verification harness (here it also picks which
    keys to report).  Estimate >= exact always (pytest-asserted)."""
    ev = load_table(spark, sf_dir, "events").select("user_id")
    keyed = ev.select(
        "user_id",
        F.explode(F.sequence(F.lit(0), F.lit(_CMS_D - 1))).alias("d"),
    ).select("d", "user_id", cms_bucket(F.col("d"), F.col("user_id")).alias("bucket"))
    cells = keyed.groupBy("d", "bucket").agg(F.count(F.lit(1)).alias("cell"))
    return cms_finalize(cells, ev)


def cms_bucket(d_col: Column, key_col: Column) -> Column:
    """The ONE (row, key) -> bucket map behind C25 and D15 (a drifted
    copy would sketch the same feed differently between the batch and
    streaming paths).  Portable md5-derived hash64 so DuckDB replays the
    identical cells."""
    return (
        hash64(
            F.concat(
                F.lit("cms-"),
                d_col.cast("string"),
                F.lit("-"),
                key_col.cast("string"),
            )
        )
        % _CMS_W
    )


def cms_finalize(cells: DataFrame, ev: DataFrame) -> DataFrame:
    """Finalize + audit over a (d, bucket, cell) CMS table: C25's exact
    top-N probe and min-cell estimate — shared by the batch sketch (C25)
    and the streaming cells merged across days (D15), so the two paths
    cannot drift."""
    exact = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.col("exact_n").desc(), "user_id")
        .limit(_CMS_TOPN)
    )
    probes = exact.select(
        "user_id",
        "exact_n",
        F.explode(F.sequence(F.lit(0), F.lit(_CMS_D - 1))).alias("d"),
    ).select(
        "user_id",
        "exact_n",
        "d",
        cms_bucket(F.col("d"), F.col("user_id")).alias("bucket"),
    )
    return (
        probes.join(F.broadcast(cells), ["d", "bucket"])
        .groupBy("user_id", "exact_n")
        .agg(F.min("cell").cast("long").alias("cms_n"))
    )


# ---------------------------------------------------------------------------
# C49. events_hll_users (deterministic HyperLogLog cardinality audit)

_HLL_P = 8  # register-index bits
_HLL_M = 1 << _HLL_P  # 256 registers
#: hash64 is 60 bits; after consuming _HLL_P index bits, 52 remain, so an
#: all-zero suffix gets rank 52+1 (the standard rho(0) = width+1 sentinel).
_HLL_WBITS = 60 - _HLL_P
#: alpha_256 * m^2 as a shared SQL fragment — every literal is CAST to
#: DOUBLE because a bare `0.7213` parses as DECIMAL in BOTH engines and
#: decimal division truncates at engine-specific scales (parity trap,
#: BASELINE.md); with explicit doubles the arithmetic is IEEE-exact and
#: bit-identical across engines.
_SQL_HLL_ALPHA_MM = (
    "(CAST(0.7213 AS DOUBLE) / (CAST(1 AS DOUBLE)"
    f" + CAST(1.079 AS DOUBLE) / CAST({_HLL_M} AS DOUBLE)))"
    f" * CAST({_HLL_M * _HLL_M} AS DOUBLE)"
)

#: rho = trailing-zero rank of the hash suffix (Flajolet's original FM
#: rank; geometric(1/2) exactly like the leading-zero variant).  Computed
#: via bin(): both engines print minimal binary strings, so trailing
#: zeros = length lost when stripping '0+$'.  Template expects {w}.
_SQL_HLL_RHO = (
    "CASE WHEN {w} = 0 THEN %d ELSE length(bin({w}))"
    " - length(regexp_replace(bin({w}), '0+$', '')) + 1 END" % (_HLL_WBITS + 1)
)


@register(
    "events_hll_users",
    oracle=f"""
    WITH regs AS (
        SELECT event_type, bucket, max(rho) AS r
        FROM (
            SELECT event_type,
                   h % {_HLL_M} AS bucket,
                   {_SQL_HLL_RHO.format(w=f"(h // {_HLL_M})")} AS rho
            FROM (SELECT event_type,
                         {sql_hash64("'hll-' || CAST(user_id AS VARCHAR)")} AS h
                  FROM events)
        ) GROUP BY event_type, bucket
    ), sums AS (
        SELECT event_type,
               CAST(sum(1::BIGINT << (53 - r)) AS BIGINT) AS s,
               {_HLL_M} - count(*) AS z
        FROM regs GROUP BY event_type
    ), est AS (
        SELECT event_type,
               CASE WHEN raw <= CAST({_HLL_M * 5} AS DOUBLE) / CAST(2 AS DOUBLE)
                         AND z > 0
                    THEN CAST({_HLL_M} AS DOUBLE)
                         * ln(CAST({_HLL_M} AS DOUBLE) / CAST(z AS DOUBLE))
                    ELSE raw END AS e
        FROM (SELECT event_type, z,
                     {_SQL_HLL_ALPHA_MM} * CAST(1::BIGINT << 53 AS DOUBLE)
                         / CAST(s + z * (1::BIGINT << 53) AS DOUBLE) AS raw
              FROM sums)
    ), exact AS (
        SELECT event_type, count(DISTINCT user_id) AS exact_users
        FROM events GROUP BY event_type
    )
    SELECT event_type, exact_users,
           CAST(floor(e + CAST(0.5 AS DOUBLE)) AS BIGINT) AS est_users,
           CAST(abs(CAST(floor(e + CAST(0.5 AS DOUBLE)) AS BIGINT) - exact_users)
                * 1000000 // exact_users AS BIGINT) AS err_ppm,
           (abs(CAST(floor(e + CAST(0.5 AS DOUBLE)) AS BIGINT) - exact_users)
                * 1000000 // exact_users) <= 195000 AS within_3sigma
    FROM est JOIN exact USING (event_type)
    """,
)
def events_hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event type via a DETERMINISTIC HyperLogLog-256
    next to the exact count — the cardinality member of the sketch-audit
    family (CMS C25 for frequencies, C48 for LSH recall): at 100 TB you
    count distincts with HLL registers, and this audit is how you pin the
    sketch's observed error on a slice before trusting it fleet-wide.

    The sketch is the textbook HLL (Flajolet et al. 2007): bucket = low
    8 bits of the portable md5-derived hash64, rho = trailing-zero rank
    of the remaining 52 bits, register = max rho per bucket, estimate =
    alpha_m * m^2 / sum(2^-r) with the small-range linear-counting branch
    (large-range branch unnecessary: 60-bit hash space).  Every step —
    hash, rank, register max, even the register SUM (scaled to exact
    BIGINTs: sum(2^(53-r)), order-independent integer addition, no float
    accumulation) — is bit-identical in the DuckDB oracle, so the gate
    certifies the ESTIMATOR itself, not a reimplementation.  The only
    doubles are the two final closed-form expressions, built from
    explicitly-CAST literals (decimal-literal division is an
    engine-divergence trap) and rounded to an integer user count.

    Scale shape: the register build is ONE partial-agg exchange whose
    map-side output is bounded by groups x 256 cells regardless of event
    volume — the production path.  The exact side (a distinct count) is
    the audit harness, same role as CMS's exact_n: it shuffles distinct
    (type, user) pairs, bounded by true cardinality not event count.
    3-sigma bound: stderr = 1.04/sqrt(256) ~= 6.5%, so 195000 ppm.

    vs reference: the reference has no sketch family; this extends its
    aggregation surface the way a training-data pipeline needs
    (SURVEY.md §2 C-block rationale)."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    h = hash64(F.concat(F.lit("hll-"), F.col("user_id").cast("string")))
    rho_sql = _SQL_HLL_RHO.format(w=f"(h div {_HLL_M})")
    regs = (
        ev.select("event_type", h.alias("h"))
        .select(
            "event_type",
            (F.col("h") % _HLL_M).alias("bucket"),
            F.expr(rho_sql).alias("rho"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.max("rho").alias("r"))
    )
    sums = regs.groupBy("event_type").agg(
        F.expr("CAST(sum(shiftleft(CAST(1 AS BIGINT), 53 - r)) AS BIGINT)").alias(
            "s"
        ),
        (F.lit(_HLL_M) - F.count(F.lit(1))).alias("z"),
    )
    est = sums.select(
        "event_type",
        "z",
        F.expr(
            f"{_SQL_HLL_ALPHA_MM} * CAST(shiftleft(CAST(1 AS BIGINT), 53) AS DOUBLE)"
            f" / CAST(s + z * shiftleft(CAST(1 AS BIGINT), 53) AS DOUBLE)"
        ).alias("raw"),
    ).select(
        "event_type",
        F.expr(
            f"CASE WHEN raw <= CAST({_HLL_M * 5} AS DOUBLE) / CAST(2 AS DOUBLE)"
            f" AND z > 0 THEN CAST({_HLL_M} AS DOUBLE)"
            f" * ln(CAST({_HLL_M} AS DOUBLE) / CAST(z AS DOUBLE))"
            f" ELSE raw END"
        ).alias("e"),
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    est_i = F.floor(F.col("e") + F.expr("CAST(0.5 AS DOUBLE)")).cast("long")
    err_ppm = F.expr(
        "abs(CAST(floor(e + CAST(0.5 AS DOUBLE)) AS BIGINT) - exact_users)"
        " * 1000000 div exact_users"
    )
    return (
        est.join(F.broadcast(exact), "event_type")
        .select(
            "event_type",
            "exact_users",
            est_i.alias("est_users"),
            err_ppm.cast("long").alias("err_ppm"),
            (err_ppm <= 195000).alias("within_3sigma"),
        )
    )


# ---------------------------------------------------------------------------
# C28. quality_lm_score (char-trigram LM perplexity proxy)

#: deterministic LM-training sample: every 10th doc.  At 100 TB you never
#: build n-gram statistics from the full corpus — a hash-sample this size
#: already pins trigram frequencies to ~4 significant digits, and the
#: sample is a pure function of doc_id (rerun/growth-stable like C16).
_LM_SAMPLE_MOD = 10

#: trigram relation over lowercased text — shared Spark/DuckDB semantics.
_SQL_LM_TRIS = """
    SELECT doc_id, substr(lt, CAST(i AS INT), 3) AS tg
    FROM (SELECT doc_id, lower(text) AS lt FROM documents
          WHERE text IS NOT NULL AND length(text) >= 3),
         UNNEST(range(1, length(lt) - 1)) AS t(i)
"""


#: the ONE C28 scoring definition — C70's CCNet bucketing composes this
#: verbatim as a CTE body so the two scores cannot drift
_LM_ORACLE = f"""
    WITH tris AS ({_SQL_LM_TRIS}),
    freq AS (SELECT tg, count(*) AS c FROM tris
             WHERE doc_id % {_LM_SAMPLE_MOD} = 0 GROUP BY tg),
    stats AS (SELECT CAST(sum(c) AS BIGINT) AS n,
                     CAST({sql_half_away('ln(0.5 / sum(c))', 9)} AS DECIMAL(18,9)) AS pen
              FROM freq),
    logp AS (SELECT tg, CAST({sql_half_away('ln(c * 1.0 / n)', 9)} AS DECIMAL(18,9)) AS lp
             FROM freq CROSS JOIN stats)
    SELECT doc_id,
           count(*) AS n_trigrams,
           {sql_round6('CAST(sum(coalesce(lp, pen)) AS DOUBLE) / count(*)')}
               AS lm_score
    FROM tris LEFT JOIN logp USING (tg) CROSS JOIN stats
    GROUP BY doc_id
    """


@register("quality_lm_score", oracle=_LM_ORACLE)
def quality_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality score: each document's mean char-trigram
    log-probability under trigram statistics built from a deterministic
    10% sample of the corpus itself — the CCNet-style LM quality filter
    (low score = atypical text: mojibake, boilerplate, non-language),
    with the reference model made self-contained and oracle-checkable
    instead of an external KenLM binary.

    Determinism discipline: each trigram's log-probability is rounded to
    9 decimals and summed as DECIMAL (exact, order-independent — summing
    raw doubles would vary with partition merge order, and ln() may
    differ by an ulp between libm and the JVM: the tfidf lesson); the
    mean is rounded at the final projection.  Out-of-vocabulary trigrams
    take a half-count penalty ln(0.5/N).

    Scale shape: the trigram VOCABULARY is bounded (charset³), so the
    frequency table and its one-row (N, penalty) stats ride broadcasts;
    the corpus-side trigram stream is row-local (explode of a
    transform), joined to the broadcast model with no shuffle, and the
    only exchange carries (doc_id, decimal partial sums) via map-side
    partial aggregation.  The sample pass re-scans the sampled tenth
    with the doc_id predicate pushed down.  Docs shorter than 3 chars
    emit nothing (no trigrams — the honest answer)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = (
        docs.where(F.col("text").isNotNull() & (F.length("text") >= 3))
        .select("doc_id", F.lower("text").alias("lt"))
    )

    def tris(df):
        return df.select(
            "doc_id",
            F.explode(
                F.expr("transform(sequence(1, length(lt) - 2), i -> substring(lt, i, 3))")
            ).alias("tg"),
        )

    # vocab-sized (charset³-bounded) and consumed by three subtrees (the
    # N stat, the penalty stat, the logp table) — checkpoint once so the
    # sample scan+explode+aggregate lineage doesn't run three times
    freq = (
        tris(spread(base.where(F.col("doc_id") % _LM_SAMPLE_MOD == 0), spark))
        .groupBy("tg")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint()
    )
    stats = freq.agg(
        F.sum("c").alias("n"),
        half_away(F.log(0.5 / F.sum("c")), 9).cast("decimal(18,9)").alias("pen"),
    )
    logp = freq.crossJoin(F.broadcast(stats.select("n"))).select(
        "tg",
        half_away(F.log(F.col("c") / F.col("n")), 9).cast("decimal(18,9)").alias("lp"),
    )
    return (
        tris(spread(base, spark))
        .join(F.broadcast(logp), "tg", "left")
        .crossJoin(F.broadcast(stats.select("pen")))
        .select("doc_id", F.coalesce("lp", "pen").alias("lp"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_trigrams"),
            round6(F.sum("lp").cast("double") / F.count(F.lit(1))).alias(
                "lm_score"
            ),
        )
    )


# ---------------------------------------------------------------------------
# C31. quality_repetition — Gopher-style repetition filters

# Keep-thresholds compared on the ROUNDED 6dp fractions (engine-stable
# frontier).  Set from the sf0.01 distribution so the filter does real
# work there (rejects ~10-15%): top-word p90≈0.14, top-bigram p90≈0.07,
# dup-trigram p99≈0.036.
_REP_MAX_TOP_WORD = 0.15
_REP_MAX_TOP_BIGRAM = 0.08
_REP_MAX_DUP_TRIGRAM = 0.02


@register(
    "quality_repetition",
    oracle=f"""
    WITH words AS (
        SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS ws
        FROM documents WHERE text IS NOT NULL
    ), grams AS (
        SELECT doc_id, 1 AS n, unnest(ws) AS gram FROM words
        UNION ALL
        SELECT doc_id, 2, unnest(list_transform(range(1, len(ws)),
            i -> ws[i] || ' ' || ws[i+1])) FROM words
        UNION ALL
        SELECT doc_id, 3, unnest(list_transform(range(1, len(ws)-1),
            i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) FROM words
    ), per_gram AS (
        SELECT doc_id, n, gram, count(*) AS c FROM grams GROUP BY doc_id, n, gram
    ), m AS (
        SELECT doc_id,
            CAST(sum(c) FILTER (n = 1) AS BIGINT) AS n_words,
            {sql_round6('''max(c) FILTER (n = 1) * 1.0
                  / sum(c) FILTER (n = 1)''')} AS top_word_frac,
            {sql_round6('''COALESCE(max(c) FILTER (n = 2) * 1.0
                  / sum(c) FILTER (n = 2), 0)''')} AS top_bigram_frac,
            {sql_round6('''COALESCE(sum(CASE WHEN c > 1 THEN c ELSE 0 END) FILTER (n = 3)
                  * 1.0 / sum(c) FILTER (n = 3), 0)''')} AS dup_trigram_frac
        FROM per_gram GROUP BY doc_id
    )
    SELECT doc_id, n_words, top_word_frac, top_bigram_frac, dup_trigram_frac,
           (top_word_frac <= {_REP_MAX_TOP_WORD}
            AND top_bigram_frac <= {_REP_MAX_TOP_BIGRAM}
            AND dup_trigram_frac <= {_REP_MAX_DUP_TRIGRAM}) AS keep
    FROM m
    """,
)
def quality_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality filters (Rae et al. 2021 §A1.1:
    "fraction of characters in the most common n-gram", "fraction of
    duplicate n-grams"): per document, the fraction of tokens taken by
    the most common word and bigram, and the fraction of trigram
    occurrences that are duplicates — the boilerplate/spam signals that
    run BEFORE expensive dedup, plus the keep verdict at the documented
    thresholds.

    Scale shape (r10 rewrite): the statistics are PER-DOCUMENT functions
    of the document's own tokens, so they need no shuffle at all — one
    Arrow-batched kernel counts grams per doc with a hash map and emits
    the rounded fractions; text never leaves its scan task.  The old
    explode + two-exchange formulation shuffled every gram occurrence
    (∝ corpus tokens × 3) to compute a row-local quantity — at 100 TB
    that is a full-corpus shuffle bought for nothing.  Exactness: the
    kernel's Python floats run the identical IEEE op sequence as the
    JVM expressions (one multiply, one divide, the half_away floor
    formula), so every fraction and keep verdict is bit-equal — pinned
    by a differential pytest against the expression form, and by the
    unchanged DuckDB oracle.  Whitespace-only documents have no grams
    and drop out (all engines agree by construction)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = spread(docs.where(F.col("text").isNotNull()), spark)
    return base.mapInArrow(
        _rep_kernel,
        "doc_id long, n_words long, top_word_frac double,"
        " top_bigram_frac double, dup_trigram_frac double, keep boolean",
    )


def _py_half_away6(q: float) -> float:
    return py_half_away(q, 6)


def _rep_kernel(it):
    """quality_repetition's per-document gram statistics, one Arrow batch
    at a time.  Mirrors the expression form op-for-op: Python floats ARE
    IEEE doubles, `t * 1.0 / n` is one exact product + one correctly-
    rounded division, and _py_half_away6 is the same floor formula as
    functions/stable.half_away — bit-equal outputs (differential
    pytest)."""
    from collections import Counter

    import pyarrow as pa

    for batch in it:
        ids = batch.column(0).to_pylist()
        texts = batch.column(1).to_pylist()
        o_id, o_nw, o_tw, o_tb, o_dt, o_keep = [], [], [], [], [], []
        for doc_id, text in zip(ids, texts):
            ws = [w for w in text.split(" ") if w != ""]
            t1 = len(ws)
            if t1 == 0:
                continue  # no grams: the doc drops out, as with explode
            top1 = max(Counter(ws).values())
            top_word = _py_half_away6(top1 * 1.0 / t1)
            if t1 >= 2:
                c2 = Counter(
                    f"{ws[i]} {ws[i + 1]}" for i in range(t1 - 1)
                )
                top_bigram = _py_half_away6(max(c2.values()) * 1.0 / (t1 - 1))
            else:
                top_bigram = 0.0
            if t1 >= 3:
                c3 = Counter(
                    f"{ws[i]} {ws[i + 1]} {ws[i + 2]}" for i in range(t1 - 2)
                )
                dup3 = sum(c for c in c3.values() if c > 1)
                dup_tri = _py_half_away6(dup3 * 1.0 / (t1 - 2))
            else:
                dup_tri = 0.0
            o_id.append(doc_id)
            o_nw.append(t1)
            o_tw.append(top_word)
            o_tb.append(top_bigram)
            o_dt.append(dup_tri)
            o_keep.append(
                top_word <= _REP_MAX_TOP_WORD
                and top_bigram <= _REP_MAX_TOP_BIGRAM
                and dup_tri <= _REP_MAX_DUP_TRIGRAM
            )
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(o_id, type=pa.int64()),
                pa.array(o_nw, type=pa.int64()),
                pa.array(o_tw, type=pa.float64()),
                pa.array(o_tb, type=pa.float64()),
                pa.array(o_dt, type=pa.float64()),
                pa.array(o_keep, type=pa.bool_()),
            ],
            names=[
                "doc_id",
                "n_words",
                "top_word_frac",
                "top_bigram_frac",
                "dup_trigram_frac",
                "keep",
            ],
        )


def _quality_repetition_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pre-r10 two-exchange expression form of quality_repetition —
    kept as the differential-pytest reference for _rep_kernel."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ws = F.filter(F.split(F.col("text"), " "), lambda w: w != F.lit(""))
    base = docs.where(F.col("text").isNotNull()).select("doc_id", ws.alias("ws"))
    w = F.col("ws")
    gram_t = "array<struct<n:int,gram:string>>"

    def grams_of(n: int):
        if n == 1:
            return F.transform(
                w, lambda x: F.struct(F.lit(1).alias("n"), x.alias("gram"))
            )
        make = F.transform(
            F.sequence(F.lit(1), F.size(w) - (n - 1)),
            lambda i: F.struct(
                F.lit(n).alias("n"),
                F.concat_ws(
                    " ", *[F.element_at(w, i + j) for j in range(n)]
                ).alias("gram"),
            ),
        )
        # guard: sequence(1, size-k) would run BACKWARD on short docs
        return F.when(F.size(w) >= n, make).otherwise(F.array().cast(gram_t))

    exploded = base.select(
        "doc_id",
        F.explode(F.concat(grams_of(1), grams_of(2), grams_of(3))).alias("g"),
    ).select("doc_id", F.col("g.n").alias("n"), F.col("g.gram").alias("gram"))
    per_gram = exploded.groupBy("doc_id", "n", "gram").agg(
        F.count(F.lit(1)).alias("c")
    )
    c, n = F.col("c"), F.col("n")
    t1 = F.sum(F.when(n == 1, c))
    top1 = F.max(F.when(n == 1, c))
    t2 = F.sum(F.when(n == 2, c))
    top2 = F.max(F.when(n == 2, c))
    t3 = F.sum(F.when(n == 3, c))
    dup3 = F.sum(F.when((n == 3) & (c > 1), c).otherwise(F.lit(0)))
    m = per_gram.groupBy("doc_id").agg(
        t1.cast("long").alias("n_words"),
        round6(top1 * 1.0 / t1).alias("top_word_frac"),
        F.coalesce(round6(top2 * 1.0 / t2), F.lit(0.0)).alias("top_bigram_frac"),
        F.coalesce(round6(dup3 * 1.0 / t3), F.lit(0.0)).alias("dup_trigram_frac"),
    )
    return m.select(
        "doc_id", "n_words", "top_word_frac", "top_bigram_frac", "dup_trigram_frac",
        (
            (F.col("top_word_frac") <= _REP_MAX_TOP_WORD)
            & (F.col("top_bigram_frac") <= _REP_MAX_TOP_BIGRAM)
            & (F.col("dup_trigram_frac") <= _REP_MAX_DUP_TRIGRAM)
        ).alias("keep"),
    )


# ---------------------------------------------------------------------------
# C34. feature_hash_vectors

_FH_DIM = 32  # hashed feature space width


@register(
    "feature_hash_vectors",
    oracle=f"""
    WITH ws AS (
        SELECT doc_id,
               list_transform(
                   list_filter(string_split(text, ' '), w -> w <> ''),
                   w -> {sql_hash64("'fh-' || w")} % {_FH_DIM}) AS bs
        FROM documents WHERE text IS NOT NULL
    )
    SELECT doc_id,
           CAST(len(bs) AS BIGINT) AS n_tokens,
           array_to_string(
               list_transform(range(0, {_FH_DIM}),
                              j -> len(list_filter(bs, b -> b = j))),
               ',') AS vec
    FROM ws
    """,
)
def feature_hash_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature hashing ("the hashing trick", Weinberger et al. 2009):
    each document as a fixed-width bag-of-words count vector whose
    coordinates are hash buckets — the vocabulary-free featurization
    used for quality classifiers (fastText-style filters) over corpora
    too large to build a vocabulary for.

    Scale shape: ZERO shuffle — tokens hash to buckets row-local (md5
    once per token via the engine-portable hash64), and the dim-wide
    count vector folds row-local from the bucket array; no vocabulary
    state, no dictionary broadcast, output width fixed at _FH_DIM
    regardless of corpus (the whole point of hashing features).  The
    vector is emitted comma-joined (engine-portable string, like
    embed_normalize's fixed-point output) ready for a downstream
    trainer."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ws = F.filter(F.split(F.col("text"), " "), lambda w: w != F.lit(""))
    bs = F.transform(
        ws, lambda w: hash64(F.concat(F.lit("fh-"), w)) % _FH_DIM
    )
    base = docs.where(F.col("text").isNotNull()).select("doc_id", bs.alias("bs"))
    counts = F.transform(
        F.sequence(F.lit(0), F.lit(_FH_DIM - 1)),
        lambda j: F.size(F.filter(F.col("bs"), lambda b: b == j)),
    )
    return base.select(
        "doc_id",
        F.size("bs").cast("long").alias("n_tokens"),
        F.array_join(counts, ",").alias("vec"),
    )


# ---------------------------------------------------------------------------
# C37. corpus_zipf_slope

_ZIPF_TOPN = 100  # fit over the top-N words (the linear regime of the curve)

_SQL_ZIPF_WORDS = """
    SELECT w AS word
    FROM (
        SELECT unnest(regexp_split_to_array(text, '[^A-Za-z]+')) AS w
        FROM documents
    )
    WHERE w <> ''
"""


@register(
    "corpus_zipf_slope",
    oracle=f"""
    WITH wc AS (
        SELECT word, count(*) AS c FROM ({_SQL_ZIPF_WORDS}) GROUP BY word
    ),
    ranked AS (
        SELECT c, row_number() OVER (ORDER BY c DESC, word) AS r
        FROM (SELECT word, c FROM wc ORDER BY c DESC, word LIMIT {_ZIPF_TOPN})
    ),
    t AS (
        SELECT CAST({sql_half_away('ln(r)', 9)} AS DECIMAL(18,9)) AS x,
               CAST({sql_half_away('ln(c)', 9)} AS DECIMAL(18,9)) AS y
        FROM ranked
    ),
    s AS (
        SELECT COUNT(*) AS n,
               CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
               CAST(SUM(x * y) AS DOUBLE) AS sxy,
               CAST(SUM(x * x) AS DOUBLE) AS sxx
        FROM t
    )
    SELECT CAST(n AS BIGINT) AS n_words,
           {sql_round6('(n * sxy - sx * sy) / (n * sxx - sx * sx)')} AS slope,
           {sql_round6('(sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n')}
               AS intercept
    FROM s
    """,
)
def corpus_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus word frequencies: least-squares
    slope of ln(freq) vs ln(rank) across the top-N (_ZIPF_TOPN=100) words —
    the one-number lexical-diversity health check a corpus report leads
    with (natural text sits near slope -1; templated/spam-heavy corpora
    flatten, deduped boilerplate steepens).

    Scale shape: word counts are one partial-agg exchange (the wordcount
    plan); the top-N cut is TakeOrderedAndProject with a full (count,
    word) tie-break — per-partition bounded heaps, no global sort — and
    the regression runs over the N-row relation (the rank window orders
    N rows, bounded by the declared fit width, not vocabulary).  The
    moment sums quantize each ln() to 9dp DECIMAL before summing
    (order-independent; C28's discipline — raw double sums would vary
    with merge order and libm ulps), and the closed-form slope is
    evaluated in double from exact moments, rounded at 6dp."""
    from pyspark.sql.window import Window

    from mapreduceimplementation_spark.functions.text import word_tokens

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    wc = word_tokens(docs).groupBy("word").agg(F.count(F.lit(1)).alias("c"))
    top = wc.orderBy(F.col("c").desc(), "word").limit(_ZIPF_TOPN)
    ranked = top.select(
        "c",
        F.row_number()
        .over(Window.orderBy(F.col("c").desc(), "word"))
        .alias("r"),
    )
    t = ranked.select(
        half_away(F.log("r"), 9).cast("decimal(18,9)").alias("x"),
        half_away(F.log("c"), 9).cast("decimal(18,9)").alias("y"),
    )
    s = t.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        F.col("n").alias("n_words"),
        round6(slope).alias("slope"),
        round6((F.col("sy") - slope * F.col("sx")) / F.col("n")).alias(
            "intercept"
        ),
    )


# ---------------------------------------------------------------------------
# C38. corpus_ngram_lm_counts

_LM_MIN_COUNT = 5  # count-pruning threshold (the Brants et al. knob)


@register(
    "corpus_ngram_lm_counts",
    oracle=f"""
    WITH words AS (
        SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS ws
        FROM documents WHERE text IS NOT NULL
    ), grams AS (
        SELECT 1 AS n, unnest(ws) AS gram FROM words
        UNION ALL
        SELECT 2, unnest(list_transform(range(1, len(ws)),
            i -> ws[i] || ' ' || ws[i+1])) FROM words
        UNION ALL
        SELECT 3, unnest(list_transform(range(1, len(ws)-1),
            i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) FROM words
    ), counts AS (
        SELECT n, gram, count(*) AS c FROM grams GROUP BY n, gram
    ), totals AS (
        SELECT n, CAST(sum(c) AS BIGINT) AS total FROM counts GROUP BY n
    )
    SELECT counts.n, gram, c, {sql_half_away('c * 1.0 / total', 9)} AS frac
    FROM counts JOIN totals ON counts.n = totals.n
    WHERE c >= {_LM_MIN_COUNT}
    """,
)
def corpus_ngram_lm_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide n-gram counts for n=1..3 with count pruning — the
    classic MapReduce language-model training job (Brants et al. 2007,
    "Large Language Models in Machine Translation": distributed n-gram
    counting + count cutoff IS the LM build).  Emits each surviving
    gram's count and its within-order relative frequency; C28's
    trigram scorer is the consumer of exactly this table shape.

    Scale shape: grams for all three orders are built row-local from one
    split and exploded ONCE (C31's machinery, minus the doc dimension);
    the ONE data-volume exchange keys on (n, gram) — finer than any
    document, cannot skew beyond true gram frequency, and map-side
    partial aggregation collapses each partition's duplicates before
    shuffle (the word-count contract).  Order totals aggregate the
    already-aggregated counts (second exchange is vocabulary-sized, not
    corpus-sized) and ride back as a 3-row broadcast.  The count cutoff
    is applied AFTER aggregation (a HAVING, not a WHERE): pruning is a
    size/quality trade documented by the paper, and totals deliberately
    include pruned mass so fractions are true probabilities."""
    base = spread(
        load_table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select(
            F.filter(F.split("text", " "), lambda x: x != F.lit("")).alias("w")
        ),
        spark,
    )
    w = F.col("w")
    gram_t = "array<struct<n:int,gram:string>>"

    def grams_of(n: int):
        if n == 1:
            return F.transform(
                w, lambda x: F.struct(F.lit(1).alias("n"), x.alias("gram"))
            )
        make = F.transform(
            F.sequence(F.lit(1), F.size(w) - (n - 1)),
            lambda i: F.struct(
                F.lit(n).alias("n"),
                F.concat_ws(
                    " ", *[F.element_at(w, i + j) for j in range(n)]
                ).alias("gram"),
            ),
        )
        return F.when(F.size(w) >= n, make).otherwise(F.array().cast(gram_t))

    counts = (
        base.select(
            F.explode(F.concat(grams_of(1), grams_of(2), grams_of(3))).alias("g")
        )
        .select(F.col("g.n").alias("n"), F.col("g.gram").alias("gram"))
        .groupBy("n", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
        # vocabulary-sized, feeds totals AND the pruned output
        .localCheckpoint()
    )
    totals = counts.groupBy("n").agg(F.sum("c").cast("long").alias("total"))
    return (
        counts.join(F.broadcast(totals), "n")
        .where(F.col("c") >= _LM_MIN_COUNT)
        .select("n", "gram", "c", half_away(F.col("c") / F.col("total"), 9).alias("frac"))
    )


# ---------------------------------------------------------------------------
# C43. pii_scrub — PII detection + redaction accounting

# ASCII-only character classes so Java regex (Spark) and RE2 (DuckDB)
# tokenize identically; no \b / \d shorthands (dialect-safe).
_PII_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+"
_PII_PHONE_RE = "[0-9][0-9][0-9]-[0-9][0-9][0-9]-[0-9][0-9][0-9][0-9]"
_PII_IP_RE = "[0-9]+[.][0-9]+[.][0-9]+[.][0-9]+"
_PII_EVERY = 7  # 1 in 7 docs get an injected contact line

# The corpus is letters-only word salad, so the detectable PII is
# INJECTED deterministically (the audit-family derivation trick): 1/7 of
# docs get a contact line whose email/phone/IP are integer functions of
# doc_id — identical in both engines, so detection counts are graded on
# real matches, not vacuous zeros.
_PII_LINE_SQL = (
    "' Contact user' || CAST(doc_id AS VARCHAR) || '@example.com or 555-'"
    " || CAST(100 + doc_id % 900 AS VARCHAR) || '-'"
    " || CAST(1000 + (doc_id * 13) % 9000 AS VARCHAR)"
    " || ' at 10.' || CAST(doc_id % 256 AS VARCHAR)"
    " || '.' || CAST((doc_id * 3) % 256 AS VARCHAR)"
    " || '.' || CAST((doc_id * 7) % 256 AS VARCHAR)"
)


@register(
    "pii_scrub",
    oracle=f"""
    WITH injected AS (
        SELECT doc_id,
               CASE WHEN {sql_hash64("'pii-' || CAST(doc_id AS VARCHAR)")}
                         % {_PII_EVERY} = 0
                    THEN text || {_PII_LINE_SQL}
                    ELSE text END AS t,
               {sql_hash64("'pii-' || CAST(doc_id AS VARCHAR)")}
                   % {_PII_EVERY} = 0 AS pii_injected
        FROM documents WHERE text IS NOT NULL
    )
    SELECT doc_id, pii_injected,
           CAST(length(regexp_extract_all(t, '{_PII_EMAIL_RE}')) AS BIGINT)
               AS n_emails,
           CAST(length(regexp_extract_all(t, '{_PII_PHONE_RE}')) AS BIGINT)
               AS n_phones,
           CAST(length(regexp_extract_all(
                    regexp_replace(t, '{_PII_PHONE_RE}', '<PHONE>', 'g'),
                    '{_PII_IP_RE}')) AS BIGINT) AS n_ips,
           md5(regexp_replace(regexp_replace(regexp_replace(
                   t, '{_PII_EMAIL_RE}', '<EMAIL>', 'g'),
                   '{_PII_PHONE_RE}', '<PHONE>', 'g'),
                   '{_PII_IP_RE}', '<IP>', 'g')) AS scrubbed_hash
    FROM injected
    """,
)
def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection and redaction accounting — the scrub pass a training
    corpus runs before release: count emails / phone numbers / IPv4
    addresses per document and emit the hash of the redacted text
    (<EMAIL>/<PHONE>/<IP> placeholders, replace-all).

    The phone pattern is redacted BEFORE IPs are counted (and the same
    replacement order produces the scrubbed text) so the two rules can
    never claim overlapping spans differently between engines; all
    patterns are ASCII character classes that Java regex and RE2 read
    identically.

    Scale shape: pure row-local regexp work at scan speed — zero
    shuffles, zero state, the text column read once; at 100 TB this
    fuses into the same codegen stage as the quality filters it
    precedes."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    docs = docs.where(F.col("text").isNotNull())
    d = F.col("doc_id")
    pii_line = F.concat(
        F.lit(" Contact user"), d.cast("string"), F.lit("@example.com or 555-"),
        (100 + d % 900).cast("string"), F.lit("-"),
        (1000 + (d * 13) % 9000).cast("string"),
        F.lit(" at 10."), (d % 256).cast("string"),
        F.lit("."), ((d * 3) % 256).cast("string"),
        F.lit("."), ((d * 7) % 256).cast("string"),
    )
    injected = hash64(F.concat(F.lit("pii-"), d.cast("string"))) % _PII_EVERY == 0
    t = F.when(injected, F.concat(F.col("text"), pii_line)).otherwise(
        F.col("text")
    )
    base = docs.select("doc_id", injected.alias("pii_injected"), t.alias("t"))
    no_phone = F.regexp_replace("t", _PII_PHONE_RE, "<PHONE>")
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace("t", _PII_EMAIL_RE, "<EMAIL>"),
            _PII_PHONE_RE, "<PHONE>",
        ),
        _PII_IP_RE, "<IP>",
    )
    return base.select(
        "doc_id",
        "pii_injected",
        F.regexp_count("t", F.lit(_PII_EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count("t", F.lit(_PII_PHONE_RE)).cast("long").alias("n_phones"),
        F.regexp_count(no_phone, F.lit(_PII_IP_RE)).cast("long").alias("n_ips"),
        F.md5(scrubbed).alias("scrubbed_hash"),
    )


# ---------------------------------------------------------------------------
# C44. ngram_duplication — per-doc duplicated-n-gram fraction

_DUP_N = 5  # shingle width (RefinedWeb audits 5..10-gram duplication)


@register(
    "ngram_duplication",
    oracle=f"""
    WITH sh AS ({sql_word_ngrams(_DUP_N)}),
    df AS (
        SELECT sh, count(*) AS df FROM sh GROUP BY sh
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN df > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_shingles,
           {sql_round6('SUM(CASE WHEN df > 1 THEN 1 ELSE 0 END) * 1.0 / count(*)')}
               AS dup_frac
    FROM sh JOIN df USING (sh)
    GROUP BY doc_id
    """,
)
def ngram_duplication(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-n-gram fraction: the share of a doc's
    distinct {_DUP_N}-word shingles that also occur in at least one
    OTHER document (corpus document-frequency > 1) — the RefinedWeb /
    MassiveText quality signal that separates boilerplate-heavy pages
    from original text, at a finer grain than whole-doc or paragraph
    dedup.  quality_repetition (C31) measures repetition WITHIN a doc;
    this measures it ACROSS the corpus.

    Scale shape: per-doc shingle DISTINCT happens row-local
    (array_distinct on the shingle array — within-doc repeats never
    reach a shuffle), so the exploded (doc_id, sh) stream is already
    distinct; document frequency is a COUNT window over the uniform
    shingle key (ONE exchange — no separate df table and NO join: the
    oracle states the literal df-join, the green hash certifies the
    window rewrite); the per-doc rollup is the second and last exchange,
    moving (doc_id, flag) pairs only.  The corpus text is scanned ONCE.
    Stop-word-like shingles with huge df are counts, not lists: no skew
    blowup."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sh = (
        docs.where(F.col("text").isNotNull())
        .select("doc_id", word_array("text").alias("ws"))
        .select(
            "doc_id",
            F.explode(F.array_distinct(ngrams_of_words("ws", _DUP_N))).alias(
                "sh"
            ),
        )
    )
    df = F.count(F.lit(1)).over(Window.partitionBy("sh"))
    dup = F.sum(F.when(F.col("df") > 1, 1).otherwise(0))
    return (
        sh.withColumn("df", df)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            dup.alias("n_dup_shingles"),
            round6(dup / F.count(F.lit(1))).alias("dup_frac"),
        )
    )


# ---------------------------------------------------------------------------
# C46. bpe_pair_counts — the first BPE merge step as a corpus job

_BPE_TOP = 50


@register(
    "bpe_pair_counts",
    oracle=f"""
    WITH w AS (
        SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
        FROM documents WHERE text IS NOT NULL
    ),
    p AS (
        SELECT substr(w, i, 2) AS pair
        FROM w, UNNEST(range(1, length(w))) t(i)
        WHERE length(w) >= 2
    )
    SELECT pair, CAST(count(*) AS BIGINT) AS cnt
    FROM p GROUP BY pair
    ORDER BY cnt DESC, pair
    LIMIT {_BPE_TOP}
    """,
)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-symbol pair frequencies over the corpus — the counting
    job inside one BPE merge iteration (Sennrich et al. 2016): for every
    lowercased letter-run token, count each adjacent character pair; the
    most frequent pair is the next merge.  Emits the top {_BPE_TOP}
    pairs (count desc, pair asc — a total order, so the frontier is
    deterministic).

    Scale shape: the pair key space is bounded (≤ 26² + partial words),
    so the exploded pair stream collapses in map-side partial aggregation
    and the single exchange moves ≤ ~700 rows per partition regardless
    of corpus size; the top-{_BPE_TOP} is a TakeOrdered over a
    dim-sized relation.  A full BPE trainer iterates this job with the
    vocabulary update applied between rounds — each round is exactly
    this shape."""
    docs = load_table(spark, sf_dir, "documents").select("text")
    words = docs.where(F.col("text").isNotNull()).select(
        F.explode(
            F.expr(f"regexp_extract_all(lower(text), '[a-z]+', 0)")
        ).alias("w")
    )
    pairs = words.where(F.length("w") >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.col("w").substr(i, F.lit(2)),
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "pair")
        .limit(_BPE_TOP)
    )


# ---------------------------------------------------------------------------
# C51. events_hll_merge_audit (sketch-table rollup: merge == direct)

_SQL_HLL_EST = f"""
    CASE WHEN raw <= CAST({_HLL_M * 5} AS DOUBLE) / CAST(2 AS DOUBLE)
              AND z > 0
         THEN CAST({_HLL_M} AS DOUBLE)
              * ln(CAST({_HLL_M} AS DOUBLE) / CAST(z AS DOUBLE))
         ELSE raw END
"""


@register(
    "events_hll_merge_audit",
    oracle=f"""
    WITH rho AS (
        SELECT date_trunc('day', ts) AS day,
               h % {_HLL_M} AS bucket,
               {_SQL_HLL_RHO.format(w=f"(h // {_HLL_M})")} AS rho
        FROM (SELECT ts,
                     {sql_hash64("'hll-' || CAST(user_id AS VARCHAR)")} AS h
              FROM events)
    ), day_regs AS (
        SELECT day, bucket, max(rho) AS r FROM rho GROUP BY day, bucket
    ), merged AS (
        SELECT bucket, max(r) AS r FROM day_regs GROUP BY bucket
    ), direct AS (
        SELECT bucket, max(rho) AS r FROM rho GROUP BY bucket
    ), est_m AS (
        SELECT {_SQL_HLL_EST} AS e
        FROM (SELECT {_SQL_HLL_ALPHA_MM} * CAST(1::BIGINT << 53 AS DOUBLE)
                         / CAST(s + z * (1::BIGINT << 53) AS DOUBLE) AS raw, z
              FROM (SELECT CAST(sum(1::BIGINT << (53 - r)) AS BIGINT) AS s,
                           {_HLL_M} - count(*) AS z
                    FROM merged))
    ), est_d AS (
        SELECT {_SQL_HLL_EST} AS e
        FROM (SELECT {_SQL_HLL_ALPHA_MM} * CAST(1::BIGINT << 53 AS DOUBLE)
                         / CAST(s + z * (1::BIGINT << 53) AS DOUBLE) AS raw, z
              FROM (SELECT CAST(sum(1::BIGINT << (53 - r)) AS BIGINT) AS s,
                           {_HLL_M} - count(*) AS z
                    FROM direct))
    ), exact AS (
        SELECT count(DISTINCT user_id) AS exact_users,
               count(DISTINCT date_trunc('day', ts)) AS n_days
        FROM events
    )
    SELECT exact_users, n_days,
           CAST(floor(d.e + CAST(0.5 AS DOUBLE)) AS BIGINT) AS est_users,
           CAST(floor(m.e + CAST(0.5 AS DOUBLE)) AS BIGINT) AS est_merged_users,
           d.e = m.e AS merge_invariant,
           CAST(abs(CAST(floor(d.e + CAST(0.5 AS DOUBLE)) AS BIGINT)
                    - exact_users) * 1000000 // exact_users AS BIGINT)
               AS err_ppm,
           (abs(CAST(floor(d.e + CAST(0.5 AS DOUBLE)) AS BIGINT) - exact_users)
               * 1000000 // exact_users) <= 195000 AS within_3sigma
    FROM est_d d, est_m m, exact
    """,
)
def events_hll_merge_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The property that makes HLL a TABLE format, not just a query: a
    register sketch stored per day MERGES into the corpus sketch with
    ZERO loss — max is associative, so merge(day sketches) == sketch of
    everything, bit-for-bit.  This is the lakehouse rollup pattern at
    100 TB: materialize days x 256 registers daily, answer any-window
    distinct-count queries by max-merging the stored sketches, never
    rescan the raw events.

    The audit computes the corpus estimate BOTH ways from independent
    aggregations of the event feed — direct (one max per bucket over all
    events) and merged (per-day registers max-merged) — and asserts
    their DOUBLE-typed estimates compare equal (merge_invariant), next
    to the exact distinct count and the usual 3-sigma error verdict.
    Fragments are C49's (one sketch definition).

    Scale shape: both register paths are bounded partial-agg exchanges
    (days x 256 and 1 x 256 cells); the exact side is the audit harness.
    In production only the per-day path runs (incrementally, one day at
    a time — D13 is its streaming form); the direct path exists here to
    make the invariant check non-vacuous."""
    ev = load_table(spark, sf_dir, "events").select("ts", "user_id")
    h = hash64(F.concat(F.lit("hll-"), F.col("user_id").cast("string")))
    rho_sql = _SQL_HLL_RHO.format(w=f"(h div {_HLL_M})")
    rho = ev.select(
        F.date_trunc("day", "ts").alias("day"), h.alias("h")
    ).select(
        "day",
        (F.col("h") % _HLL_M).alias("bucket"),
        F.expr(rho_sql).alias("rho"),
    )
    day_regs = rho.groupBy("day", "bucket").agg(F.max("rho").alias("r"))
    merged = day_regs.groupBy("bucket").agg(F.max("r").alias("r"))
    direct = rho.groupBy("bucket").agg(F.max("rho").alias("r"))

    def estimate(regs: DataFrame, out: str) -> DataFrame:
        sums = regs.agg(
            F.expr(
                "CAST(sum(shiftleft(CAST(1 AS BIGINT), 53 - r)) AS BIGINT)"
            ).alias("s"),
            (F.lit(_HLL_M) - F.count(F.lit(1))).alias("z"),
        )
        return sums.select(
            F.expr(
                f"{_SQL_HLL_ALPHA_MM} * CAST(shiftleft(CAST(1 AS BIGINT), 53) AS DOUBLE)"
                f" / CAST(s + z * shiftleft(CAST(1 AS BIGINT), 53) AS DOUBLE)"
            ).alias("raw"),
            "z",
        ).select(F.expr(_SQL_HLL_EST.replace("\n", " ")).alias(out))
    est_d = estimate(direct, "e_d")
    est_m = estimate(merged, "e_m")
    exact = ev.agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.countDistinct(F.date_trunc("day", "ts")).alias("n_days"),
    )
    err_ppm = F.expr(
        "abs(CAST(floor(e_d + CAST(0.5 AS DOUBLE)) AS BIGINT) - exact_users)"
        " * 1000000 div exact_users"
    )
    return (
        est_d.crossJoin(est_m)
        .crossJoin(exact)
        .select(
            "exact_users",
            "n_days",
            F.floor(F.col("e_d") + F.expr("CAST(0.5 AS DOUBLE)"))
            .cast("long")
            .alias("est_users"),
            F.floor(F.col("e_m") + F.expr("CAST(0.5 AS DOUBLE)"))
            .cast("long")
            .alias("est_merged_users"),
            (F.col("e_d") == F.col("e_m")).alias("merge_invariant"),
            err_ppm.cast("long").alias("err_ppm"),
            (err_ppm <= 195000).alias("within_3sigma"),
        )
    )


# ---------------------------------------------------------------------------
# C54. corpus_readability — Flesch reading-ease / FK grade per document

_RD_SENT_RE = "[.!?]+"  # sentence terminators (runs collapse to one)
_RD_SYL_RE = "[aeiouy]+"  # vowel groups ~ syllables (classic heuristic)


@register(
    "corpus_readability",
    oracle=f"""
    SELECT doc_id, n_words, n_sentences, n_syllables,
           CAST(floor((206.835
                - 1.015 * (n_words * 1.0 / n_sentences)
                - 84.6 * (n_syllables * 1.0 / n_words)) * 10000)
               AS BIGINT) AS flesch_q,
           CAST(floor((0.39 * (n_words * 1.0 / n_sentences)
                + 11.8 * (n_syllables * 1.0 / n_words)
                - 15.59) * 10000) AS BIGINT) AS grade_q
    FROM (
        SELECT doc_id,
               CAST(length(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT)
                   AS n_words,
               GREATEST(1, CAST(length(regexp_extract_all(text, '{_RD_SENT_RE}'))
                   AS BIGINT)) AS n_sentences,
               CAST(length(regexp_extract_all(lower(text), '{_RD_SYL_RE}'))
                   AS BIGINT) AS n_syllables
        FROM documents WHERE text IS NOT NULL
    ) WHERE n_words > 0
    """,
)
def corpus_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading ease + Flesch-Kincaid grade per document — the
    classic readability screen a quality-filtered training corpus runs
    alongside C3's heuristic score (e.g. drop or down-weight documents
    far outside the target band).  Syllables use the standard vowel-group
    heuristic ([aeiouy]+ runs), sentences are terminator runs clamped to
    >= 1 so headline-only fragments stay defined.

    Scores are emitted as floor'd 1e-4 fixed-point BIGINTs: the formula
    is pure +-*/ over integer counts (identical IEEE op order in both
    engines), and floor-quantization sidesteps the ROUND half-boundary
    hazard documented for embedding_outliers.

    Scale shape: fully row-local — three regexp counts at scan speed
    inside one WholeStageCodegen span, no UDF, no shuffle at all; the
    scan reads (doc_id, text) only."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.where(F.col("text").isNotNull()).select(
        "doc_id",
        F.regexp_count("text", F.lit("[A-Za-z]+")).cast("long").alias("n_words"),
        F.greatest(
            F.lit(1).cast("long"),
            F.regexp_count("text", F.lit(_RD_SENT_RE)).cast("long"),
        ).alias("n_sentences"),
        F.regexp_count(F.lower("text"), F.lit(_RD_SYL_RE))
        .cast("long")
        .alias("n_syllables"),
    )
    wps = F.col("n_words") * 1.0 / F.col("n_sentences")
    spw = F.col("n_syllables") * 1.0 / F.col("n_words")
    flesch = F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw
    grade = F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59)
    return base.where(F.col("n_words") > 0).select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        F.floor(flesch * 10000).cast("long").alias("flesch_q"),
        F.floor(grade * 10000).cast("long").alias("grade_q"),
    )


# ---------------------------------------------------------------------------
# C58. winnowing_fingerprint — MOSS winnowing (rightmost-min-in-window)

_WIN_K = 8  # k-gram width (chars)
_WIN_W = 6  # winnowing window: every _WIN_W consecutive k-grams share a pick
# ADVICE r8: the rightmost-min fold iterates sequence(1, _WIN_W - 1), and
# Spark's sequence() DESCENDS when stop < start — _WIN_W = 1 would silently
# yield [1, 0] and read outside the window instead of an empty fold
assert _WIN_W >= 2, "winnowing window must span at least 2 k-grams"

_SQL_WIN_POS = f"""
        SELECT doc_id,
               CAST(i AS BIGINT) AS pos,
               {sql_hash64(f"substr(text, i::INT, {_WIN_K})")} AS h,
               length(text) - {_WIN_K} + 1 AS n_kgrams
        FROM documents, UNNEST(range(1, length(text) - {_WIN_K} + 2)) t(i)
        WHERE text IS NOT NULL AND length(text) >= {_WIN_K + _WIN_W - 1}
"""


@register(
    "winnowing_fingerprint",
    oracle=f"""
    WITH pos AS ({_SQL_WIN_POS}),
    wmin AS (
        SELECT doc_id, t, mh FROM (
            SELECT doc_id, pos AS t, n_kgrams,
                   min(h) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS BETWEEN CURRENT ROW
                                AND {_WIN_W - 1} FOLLOWING) AS mh
            FROM pos
        ) WHERE t <= n_kgrams - {_WIN_W} + 1
    ),
    sel AS (
        SELECT w.doc_id, w.t, max(p.pos) AS spos
        FROM wmin w JOIN pos p
          ON p.doc_id = w.doc_id AND p.h = w.mh
         AND p.pos BETWEEN w.t AND w.t + {_WIN_W} - 1
        GROUP BY w.doc_id, w.t
    ),
    spots AS (SELECT DISTINCT doc_id, spos FROM sel)
    SELECT s.doc_id,
           CAST(min(p.n_kgrams) AS BIGINT) AS n_kgrams,
           CAST(count(*) AS BIGINT) AS n_selected,
           string_agg(CAST(s.spos AS VARCHAR) || ':' || CAST(p.h AS VARCHAR),
                      ',' ORDER BY s.spos) AS winnow_fp
    FROM spots s JOIN pos p ON p.doc_id = s.doc_id AND p.pos = s.spos
    GROUP BY s.doc_id
    """,
)
def winnowing_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS winnowing (Schleimer-Wilkerson-Aiken, SIGMOD'03): hash every
    char {k}-gram, slide a window of {w} hashes, record the window minimum
    with the RIGHTMOST occurrence on ties.  Guarantees every substring of
    length k+w-1 contributes >=1 selected hash, so any shared run that long
    between two documents collides in fingerprint space — the positional
    complement of doc_fingerprint's k-min sketch (which keeps the globally
    smallest hashes and loses locality).

    Engine exactness: the rightmost-tie rule is the pinned semantics — the
    Spark fold updates on ``<=`` (later position wins at equal hash) and the
    oracle takes ``max(pos)`` among window rows equal to the window min; the
    60-bit hash makes ties rare but the rule keeps them deterministic.

    Scale shape: the whole selection is **row-local** — hash array, per-
    window fold, distinct, join-back all as array expressions; the only
    exchange is spread()'s local-parallelism guard (round-robin; a no-op
    on a real cluster where the scan already has thousands of splits —
    asserted by tests/test_textmetrics_plan.py: no hash/range exchange).
    The oracle states the same semantics relationally (frame window min
    + rightmost argmin join) — the shape a naive engine would shuffle;
    here it costs O(len * w) per row at scan speed.  Docs shorter than
    k+w-1 chars (no full window) are excluded on both sides.

    Cost notes (VERDICT r7 item 3, measured at sf0.1): the k-gram hashes
    are computed in ONE fused transform straight off the text (no
    intermediate array of n 8-char substrings), the per-window
    rightmost-min fold carries a plain LONG accumulator (position; the
    candidate beats it on ``h[cand] <= h[acc]``, so later positions win
    ties — identical semantics, no per-step struct allocation), and
    spread() keeps this HOF-heavy scan off a single local core.
    Together: ~5.4 s -> ~1.1 s, crc-identical output."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    docs = docs.where(
        F.col("text").isNotNull() & (F.length("text") >= _WIN_K + _WIN_W - 1)
    )
    docs = spread(docs, spark)  # HOF-heavy stage: never run one-core
    hs = F.transform(
        F.sequence(F.lit(1), F.length("text") - (_WIN_K - 1)),
        lambda i: hash64(F.col("text").substr(i, F.lit(_WIN_K))),
    )
    base = docs.select("doc_id", hs.alias("hs")).select(
        "doc_id", "hs", F.size("hs").alias("n")
    )
    # Rightmost min of hs[t .. t+w-1] for every full window start t.
    picks = F.transform(
        F.sequence(F.lit(1), F.col("n") - (_WIN_W - 1)),
        lambda t: F.aggregate(
            F.sequence(F.lit(1), F.lit(_WIN_W - 1)),
            t.cast("long"),
            lambda acc, j: F.when(
                F.element_at("hs", (t + j).cast("int"))
                <= F.element_at("hs", acc.cast("int")),
                (t + j).cast("long"),
            ).otherwise(acc),
        ),
    )
    sel = F.array_sort(F.array_distinct(picks))
    return base.select(
        "doc_id",
        "hs",
        F.col("n").cast("long").alias("n_kgrams"),
        sel.alias("sel"),
    ).select(
        "doc_id",
        "n_kgrams",
        F.size("sel").cast("long").alias("n_selected"),
        F.array_join(
            F.transform(
                "sel",
                lambda p: F.concat_ws(
                    ":",
                    p.cast("string"),
                    F.element_at("hs", p.cast("int")).cast("string"),
                ),
            ),
            ",",
        ).alias("winnow_fp"),
    )


# ---------------------------------------------------------------------------
# C59. corpus_entropy — character-class entropy quality screen

_ENT_CLASSES = (
    ("lower", "[a-z]"),
    ("upper", "[A-Z]"),
    ("digit", "[0-9]"),
    ("space", " "),
)
_ENT_LOW = 0.6  # nats; max is ln(5) ~ 1.609 over 5 classes

_SQL_ENT_TERM = "CASE WHEN {c} > 0 THEN ({c} * 1.0 / n) * ln({c} * 1.0 / n) ELSE 0.0 END"


@register(
    "corpus_entropy",
    oracle=f"""
    WITH counts AS (
        SELECT doc_id,
               CAST(length(text) AS BIGINT) AS n,
               {", ".join(
                   f"CAST(length(regexp_extract_all(text, '{re_}')) AS BIGINT) AS c_{name}"
                   for name, re_ in _ENT_CLASSES
               )}
        FROM documents WHERE text IS NOT NULL AND length(text) > 0
    ),
    full_counts AS (
        SELECT *, n - (c_lower + c_upper + c_digit + c_space) AS c_other
        FROM counts
    )
    SELECT doc_id, n, c_lower, c_upper, c_digit, c_space, c_other,
           {sql_round6("-(" + " + ".join(
               _SQL_ENT_TERM.format(c=f"c_{name}")
               for name in ("lower", "upper", "digit", "space", "other")
           ) + ")")} AS class_entropy,
           {sql_round6("-(" + " + ".join(
               _SQL_ENT_TERM.format(c=f"c_{name}")
               for name in ("lower", "upper", "digit", "space", "other")
           ) + ")")} < {_ENT_LOW} AS low_entropy
    FROM full_counts
    """,
)
def corpus_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-class Shannon entropy per document — the cheap information-
    density screen a pretraining pipeline runs before tokenization: pure
    single-class runs (base64 blobs, digit dumps, whitespace padding) score
    near 0 nats and are flagged ``low_entropy``; normal prose mixes lower/
    upper/digit/space/punct and lands near 1 nat.

    Engine exactness: counts are integer regexp counts over disjoint ASCII
    classes ('other' is the exact remainder, so the five probabilities sum
    to 1 by construction); each p*ln(p) term uses the identical
    double-divide-then-ln expression chained in a fixed class order, and
    the entropy is half-away-floored to 6 digits (functions.stable.round6
    — engine round() double-rounding diverges cross-engine) before
    comparison and before the threshold test; libm ulp differences vanish
    at 1e-6.  The flag compares the *rounded* value so both engines branch
    on the same number.

    Scale shape: fully row-local — four regexp counts + arithmetic in one
    WholeStageCodegen span, no shuffle, scan reads (doc_id, text) only;
    at 100 TB this runs at scan speed ahead of the expensive dedup stages
    (same contract as quality_score / corpus_readability)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.where(F.col("text").isNotNull() & (F.length("text") > 0)).select(
        "doc_id",
        F.length("text").cast("long").alias("n"),
        *[
            F.regexp_count("text", F.lit(re_)).cast("long").alias(f"c_{name}")
            for name, re_ in _ENT_CLASSES
        ],
    )
    base = base.withColumn(
        "c_other",
        F.col("n") - (F.col("c_lower") + F.col("c_upper") + F.col("c_digit") + F.col("c_space")),
    )

    def term(c: str) -> Column:
        p = F.col(c) * 1.0 / F.col("n")
        return F.when(F.col(c) > 0, p * F.log(p)).otherwise(F.lit(0.0))

    ent = -(
        term("c_lower") + term("c_upper") + term("c_digit") + term("c_space") + term("c_other")
    )
    ent6 = round6(ent)
    return base.select(
        "doc_id", "n", "c_lower", "c_upper", "c_digit", "c_space", "c_other",
        ent6.alias("class_entropy"),
        (ent6 < _ENT_LOW).alias("low_entropy"),
    )


# ---------------------------------------------------------------------------
# C63. quality_gopher_rules — Gopher §A1.1 per-rule filter matrix

#: the 8 Gopher "stop words": a doc must contain >= _GOPHER_MIN_STOPS of
#: them (the rule that kills word-soup and navigation pages)
_GOPHER_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")
_GOPHER_MIN_STOPS = 2
_GOPHER_MIN_WORDS, _GOPHER_MAX_WORDS = 50, 100_000


def _sql_lines() -> str:
    return "string_split(text, chr(10))"


_SQL_GOPHER_STOPS = " + ".join(
    "CASE WHEN regexp_matches(lower(text), '\\b" + w + "\\b')"
    " THEN 1 ELSE 0 END"
    for w in _GOPHER_STOPS
)


@register(
    "quality_gopher_rules",
    oracle=f"""
    WITH stats AS (
        SELECT doc_id,
               CAST(length(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT)
                   AS n_words,
               CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                   AS BIGINT) AS n_letters,
               CAST(length(regexp_extract_all(text, '#|\\.\\.\\.'))
                   AS BIGINT) AS n_sym,
               CAST(len(list_filter({_sql_lines()},
                        x -> x <> '')) AS BIGINT) AS n_lines,
               CAST(len(list_filter({_sql_lines()},
                        x -> ends_with(x, '...'))) AS BIGINT) AS n_ell,
               CAST(len(list_filter({_sql_lines()},
                        x -> starts_with(x, '-') OR starts_with(x, '*')))
                   AS BIGINT) AS n_bullet,
               CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                   AS BIGINT) AS n_tokens,
               CAST(len(list_filter(string_split(text, ' '),
                        x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT)
                   AS n_alpha_tokens,
               {_SQL_GOPHER_STOPS} AS n_stops
        FROM documents WHERE text IS NOT NULL
    )
    SELECT doc_id, n_words, n_stops,
           n_words BETWEEN {_GOPHER_MIN_WORDS} AND {_GOPHER_MAX_WORDS}
               AS rule_word_count,
           n_words > 0 AND 3 * n_words <= n_letters
               AND n_letters <= 10 * n_words AS rule_mean_word_len,
           10 * n_sym <= n_words AS rule_symbol_ratio,
           10 * n_ell <= 3 * n_lines AS rule_ellipsis_lines,
           10 * n_bullet <= 9 * n_lines AS rule_bullet_lines,
           5 * n_alpha_tokens >= 4 * n_tokens AS rule_alpha_words,
           n_stops >= {_GOPHER_MIN_STOPS} AS rule_stop_words,
           (n_words BETWEEN {_GOPHER_MIN_WORDS} AND {_GOPHER_MAX_WORDS})
               AND (n_words > 0 AND 3 * n_words <= n_letters
                    AND n_letters <= 10 * n_words)
               AND 10 * n_sym <= n_words
               AND 10 * n_ell <= 3 * n_lines
               AND 10 * n_bullet <= 9 * n_lines
               AND 5 * n_alpha_tokens >= 4 * n_tokens
               AND n_stops >= {_GOPHER_MIN_STOPS} AS passes_gopher
    FROM stats
    """,
)
def quality_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality-filter rule matrix (Rae et al. 2021, §A1.1): the
    seven document-level heuristics the MassiveText pipeline applies
    before any model-based scoring — word-count bounds, mean-word-length
    band [3, 10], symbol-to-word ratio (# / ellipsis), ellipsis-ended
    and bullet-started line fractions, alphabetic-word fraction ≥ 0.8,
    and the ≥2-of-8 stop-word test.  Emits each rule's verdict PLUS the
    conjunction, so downstream can both filter and report per-rule
    rejection rates (C3 scores fluency; this is the published
    reject-rule set).

    Determinism discipline: every ratio threshold is stated as an
    INTEGER cross-multiplication (10·n_sym ≤ n_words, 5·n_alpha ≥
    4·n_tokens…) — no float division anywhere, so the verdicts cannot
    sit on a rounding boundary on either engine.  Line/token counts use
    array filters over chr(10)/space splits (identical list semantics
    both engines); the synthetic corpus has no newlines, so the line
    rules are exercised by the crafted-fixture pytest instead.

    Scale shape: row-local regexp/array arithmetic at scan speed, ZERO
    shuffles — exactly the filter you run before paying for dedup."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    lines = F.filter(F.split("text", "\n"), lambda x: x != F.lit(""))
    lines_all = F.split("text", "\n")
    tokens = F.split("text", " ")
    stats = docs.where(F.col("text").isNotNull()).select(
        "doc_id",
        F.regexp_count("text", F.lit("[A-Za-z]+")).cast("long").alias("n_words"),
        F.length(F.regexp_replace("text", "[^A-Za-z]", ""))
        .cast("long")
        .alias("n_letters"),
        F.regexp_count("text", F.lit("#|\\.\\.\\.")).cast("long").alias("n_sym"),
        F.size(lines).cast("long").alias("n_lines"),
        F.size(F.filter(lines_all, lambda x: x.endswith("...")))
        .cast("long")
        .alias("n_ell"),
        F.size(
            F.filter(
                lines_all,
                lambda x: x.startswith("-") | x.startswith("*"),
            )
        )
        .cast("long")
        .alias("n_bullet"),
        F.size(F.filter(tokens, lambda x: x != F.lit("")))
        .cast("long")
        .alias("n_tokens"),
        F.size(F.filter(tokens, lambda x: x.rlike("[A-Za-z]")))
        .cast("long")
        .alias("n_alpha_tokens"),
        sum(
            F.when(
                F.lower(F.col("text")).rlike(f"\\b{w}\\b"), 1
            ).otherwise(0)
            for w in _GOPHER_STOPS
        ).alias("n_stops"),
    )
    r_wc = F.col("n_words").between(_GOPHER_MIN_WORDS, _GOPHER_MAX_WORDS)
    r_mwl = (
        (F.col("n_words") > 0)
        & (3 * F.col("n_words") <= F.col("n_letters"))
        & (F.col("n_letters") <= 10 * F.col("n_words"))
    )
    r_sym = 10 * F.col("n_sym") <= F.col("n_words")
    r_ell = 10 * F.col("n_ell") <= 3 * F.col("n_lines")
    r_bul = 10 * F.col("n_bullet") <= 9 * F.col("n_lines")
    r_alpha = 5 * F.col("n_alpha_tokens") >= 4 * F.col("n_tokens")
    r_stop = F.col("n_stops") >= _GOPHER_MIN_STOPS
    return stats.select(
        "doc_id",
        "n_words",
        F.col("n_stops").cast("long").alias("n_stops"),
        r_wc.alias("rule_word_count"),
        r_mwl.alias("rule_mean_word_len"),
        r_sym.alias("rule_symbol_ratio"),
        r_ell.alias("rule_ellipsis_lines"),
        r_bul.alias("rule_bullet_lines"),
        r_alpha.alias("rule_alpha_words"),
        r_stop.alias("rule_stop_words"),
        (r_wc & r_mwl & r_sym & r_ell & r_bul & r_alpha & r_stop).alias(
            "passes_gopher"
        ),
    )


# ---------------------------------------------------------------------------
# C65. quality_c4_rules — C4 cleaning heuristics (Raffel et al. 2020 §2.2)

#: a line survives C4 iff it ends in terminal punctuation, has >= 3 words,
#: and does not mention javascript
_C4_MIN_LINE_WORDS = 3
#: a page survives iff its KEPT text still has >= 5 sentences
_C4_MIN_SENTENCES = 5
#: deterministic stand-in for C4's word blocklist (the published pipeline
#: uses the LDNOOBW list; the operator is the plumbing, the list is config)
_C4_BADWORDS = ("casino", "jackpot", "viagra")

_SQL_C4_KEEP = (
    "x -> (ends_with(rtrim(x), '.') OR ends_with(rtrim(x), '!')"
    " OR ends_with(rtrim(x), '?') OR ends_with(rtrim(x), '\"'))"
    f" AND len(list_filter(string_split(x, ' '), w -> w <> ''))"
    f" >= {_C4_MIN_LINE_WORDS}"
    " AND NOT contains(lower(x), 'javascript')"
)

_SQL_C4_BAD = " OR ".join(
    f"regexp_matches(lower(text), '\\b{w}\\b')" for w in _C4_BADWORDS
)


@register(
    "quality_c4_rules",
    oracle=f"""
    WITH stats AS (
        SELECT doc_id,
               CAST(len(list_filter(string_split(text, chr(10)),
                        x -> x <> '')) AS BIGINT) AS n_lines,
               CAST(len(list_filter(string_split(text, chr(10)),
                        {_SQL_C4_KEEP})) AS BIGINT) AS n_kept_lines,
               -- coalesce: DuckDB array_to_string([]) is NULL, not ''
               CAST(length(regexp_extract_all(
                        coalesce(array_to_string(list_filter(
                            string_split(text, chr(10)), {_SQL_C4_KEEP}),
                            chr(10)), ''),
                        '[.!?]')) AS BIGINT) AS n_sentences,
               contains(lower(text), 'lorem ipsum') AS has_lorem,
               contains(text, '{{') AS has_brace,
               ({_SQL_C4_BAD}) AS has_badword
        FROM documents WHERE text IS NOT NULL
    )
    SELECT doc_id, n_lines, n_kept_lines, n_sentences,
           CASE WHEN n_lines = 0 THEN CAST(0 AS BIGINT)
                ELSE (1000000 * n_kept_lines) // n_lines END AS kept_ppm,
           n_sentences >= {_C4_MIN_SENTENCES} AS rule_min_sentences,
           NOT has_lorem AS rule_no_lorem,
           NOT has_brace AS rule_no_brace,
           NOT has_badword AS rule_no_badwords,
           n_kept_lines >= 1
               AND n_sentences >= {_C4_MIN_SENTENCES}
               AND NOT has_lorem AND NOT has_brace AND NOT has_badword
               AS passes_c4
    FROM stats
    """,
)
def quality_c4_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 cleaning heuristics (Raffel et al. JMLR 2020, §2.2 — the rules
    that built the C4 corpus): LINE-level retention (keep a line only if
    it ends in terminal punctuation [. ! ? \"], has ≥ 3 words, and does
    not mention javascript) plus PAGE-level rejection (kept text must
    still hold ≥ 5 sentences; drop pages containing 'lorem ipsum', a
    curly brace, or a blocklist word — the published pipeline's LDNOOBW
    list, stood in for by a small deterministic config list).  Emits the
    retention accounting (lines kept, ppm) and each page rule's verdict
    plus the conjunction — C63 is Gopher's reject matrix, this is C4's;
    together they are the two published rule sets a pretraining corpus
    is actually screened with.

    Determinism discipline: the kept-line predicate is ONE lambda stated
    identically over both engines' chr(10)-split arrays (string ops
    only, no regex classes that could differ); kept_ppm is an exact
    BIGINT division; sentence counting runs over the REJOINED kept text
    so both engines count the same characters.

    Scale shape: row-local string/array arithmetic at scan speed, ZERO
    shuffles — like C63 this is the filter you run before paying for
    any shuffle-bearing dedup."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    lines_all = F.split("text", "\n")

    def kept(x: Column) -> Column:
        t = F.rtrim(x)
        words = F.size(F.filter(F.split(x, " "), lambda w: w != F.lit("")))
        return (
            (
                t.endswith(".")
                | t.endswith("!")
                | t.endswith("?")
                | t.endswith('"')
            )
            & (words >= _C4_MIN_LINE_WORDS)
            & ~F.contains(F.lower(x), F.lit("javascript"))
        )

    kept_lines = F.filter(lines_all, kept)
    has_bad = None
    for w in _C4_BADWORDS:
        c = F.lower(F.col("text")).rlike(f"\\b{w}\\b")
        has_bad = c if has_bad is None else (has_bad | c)
    stats = docs.where(F.col("text").isNotNull()).select(
        "doc_id",
        F.size(F.filter(lines_all, lambda x: x != F.lit("")))
        .cast("long")
        .alias("n_lines"),
        F.size(kept_lines).cast("long").alias("n_kept_lines"),
        F.regexp_count(F.array_join(kept_lines, "\n"), F.lit("[.!?]"))
        .cast("long")
        .alias("n_sentences"),
        F.contains(F.lower("text"), F.lit("lorem ipsum")).alias("has_lorem"),
        F.contains("text", F.lit("{")).alias("has_brace"),
        has_bad.alias("has_badword"),
    )
    r_sent = F.col("n_sentences") >= _C4_MIN_SENTENCES
    return stats.select(
        "doc_id",
        "n_lines",
        "n_kept_lines",
        "n_sentences",
        F.when(F.col("n_lines") == 0, F.lit(0).cast("long"))
        .otherwise(F.expr("(n_kept_lines * 1000000L) div n_lines"))
        .alias("kept_ppm"),
        r_sent.alias("rule_min_sentences"),
        (~F.col("has_lorem")).alias("rule_no_lorem"),
        (~F.col("has_brace")).alias("rule_no_brace"),
        (~F.col("has_badword")).alias("rule_no_badwords"),
        (
            (F.col("n_kept_lines") >= 1)
            & r_sent
            & ~F.col("has_lorem")
            & ~F.col("has_brace")
            & ~F.col("has_badword")
        ).alias("passes_c4"),
    )


# ---------------------------------------------------------------------------
# C69. tokenizer_fertility — per-language tokenizer efficiency rollup


@register(
    "tokenizer_fertility",
    oracle=f"""
    WITH per_doc AS (
        SELECT lang,
               CAST(length(regexp_extract_all(text, '{_WS_RE}')) AS BIGINT)
                   AS n_words,
               CAST(length(regexp_extract_all(text, '{_BPE_RE}')) AS BIGINT)
                   AS n_tokens,
               CAST(length(text) AS BIGINT) AS n_chars
        FROM documents WHERE text IS NOT NULL
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_words) AS BIGINT) AS total_words,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CASE WHEN sum(n_words) = 0 THEN CAST(0 AS BIGINT)
                ELSE (CAST(sum(n_tokens) AS BIGINT) * 1000000)
                     // CAST(sum(n_words) AS BIGINT) END AS fertility_ppm,
           CASE WHEN sum(n_tokens) = 0 THEN CAST(0 AS BIGINT)
                ELSE (CAST(sum(n_chars) AS BIGINT) * 1000000)
                     // CAST(sum(n_tokens) AS BIGINT) END
               AS chars_per_token_ppm
    FROM per_doc GROUP BY lang
    """,
)
def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer fertility — the tokenizer-evaluation
    staple (fertility = subword tokens per word; chars per token is its
    byte-level dual): languages a tokenizer serves poorly show fertility
    far above ~1.3 and pay that multiple in sequence length, training
    cost, and context budget — the number multilingual pipelines check
    before committing a vocab.  Uses the SAME _WS_RE/_BPE_RE token
    definitions as C2's token_count (one tokenizer definition — a
    drifted copy would report a fertility no other operator computes).

    Determinism: counts are exact integers; both ratios are exact BIGINT
    ppm divisions with explicit zero-denominator gates.

    Scale shape: row-local regexp counting at scan speed folded by ONE
    partial-agg exchange bounded by the language count — the 100 TB cost
    is the scan, the shuffle carries a handful of rows per partition."""
    docs = load_table(spark, sf_dir, "documents").select("lang", "text")
    per_doc = docs.where(F.col("text").isNotNull()).select(
        "lang",
        F.regexp_count("text", F.lit(_WS_RE)).cast("long").alias("n_words"),
        F.regexp_count("text", F.lit(_BPE_RE)).cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars"),
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").cast("long").alias("total_words"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    ).select(
        "lang",
        "n_docs",
        "total_words",
        "total_tokens",
        "total_chars",
        F.when(F.col("total_words") == 0, F.lit(0).cast("long"))
        .otherwise(F.expr("(total_tokens * 1000000L) div total_words"))
        .alias("fertility_ppm"),
        F.when(F.col("total_tokens") == 0, F.lit(0).cast("long"))
        .otherwise(F.expr("(total_chars * 1000000L) div total_tokens"))
        .alias("chars_per_token_ppm"),
    )


# ---------------------------------------------------------------------------
# C70. quality_ccnet_buckets — CCNet head/middle/tail perplexity split


@register(
    "quality_ccnet_buckets",
    oracle=f"""
    WITH lm AS ({_LM_ORACLE}),
    ranked AS (
        SELECT doc_id, lm_score,
               CAST(row_number() OVER (ORDER BY lm_score DESC, doc_id)
                    AS BIGINT) AS rank,
               CAST(count(*) OVER () AS BIGINT) AS n_total
        FROM lm
    )
    SELECT doc_id, lm_score, rank,
           CASE WHEN rank * 3 <= n_total THEN 'head'
                WHEN rank * 3 <= 2 * n_total THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM ranked
    """,
)
def quality_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail corpus split (Wenzek et al. LREC 2020 —
    THE published recipe for perplexity-tiered pretraining data: rank
    the corpus by LM score, cut into equal thirds, train preferentially
    on the head): every document ranked by C28's perplexity-proxy score
    (SAME quality_lm_score code path and, in the oracle, the verbatim
    _LM_ORACLE CTE — one scoring definition) and assigned its tercile by
    exact integer arithmetic (rank·3 ≤ N / ≤ 2N — no float quantile at
    the cut frontier).

    Determinism: the ranking order (lm_score DESC, doc_id) is total;
    the cut is integer; C28's 9dp-decimal score discipline carries over.

    Scale shape: the oracle states the literal single-window
    row_number() OVER (ORDER BY …); the engine computes the IDENTICAL
    rank with the A5/B47 `distributed_rank` machinery — range exchange,
    per-partition row_number, prefix-sum offsets broadcast — so no
    single-partition stage touches corpus-sized data (the green hash
    certifies the rewrite, B47's discipline); n_total is a 1-row
    broadcast."""
    from mapreduceimplementation_spark.operators.mrcore import (
        distributed_rank,
    )

    scored = quality_lm_score(spark, sf_dir).select("doc_id", "lm_score")
    ranked = distributed_rank(
        scored, order=[F.col("lm_score").desc(), F.col("doc_id")]
    )
    n_total = ranked.agg(F.count(F.lit(1)).alias("n_total"))
    return ranked.crossJoin(F.broadcast(n_total)).select(
        "doc_id",
        "lm_score",
        "rank",
        F.when(F.col("rank") * 3 <= F.col("n_total"), F.lit("head"))
        .when(F.col("rank") * 3 <= 2 * F.col("n_total"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


# ---------------------------------------------------------------------------
# C72. bpe_train — full BPE merge-training loop (Sennrich et al. 2016 §3.2)
# (C46 is ONE counting round; this iterates count -> argmax -> re-tokenize
# to an actual merge table — the canonical corpus-scale tokenizer-training
# job)

#: merge rounds to train (the merge table IS the model)
_BPT_STEPS = 8

#: tokenization state is a string of {}-wrapped symbols ("{l}{o}{w}{_}").
#: The wrappers guarantee replace()'s leftmost-nonoverlapping scan equals
#: BPE's greedy left-to-right merge: adjacent matches share NO characters
#: (...}{...), so "{a}{b}{a}{b}" -> "{ab}{ab}" in one pass, and the
#: self-overlapping "{a}{a}{a}" -> "{aa}{a}" exactly like the reference
#: algorithm.  Symbols are [a-z_] (lowercased letter-runs + the '_'
#: end-of-word marker), so '{'/'}' can never occur INSIDE a symbol.
_BPT_EOW = "_"


def _sql_bpt_v0() -> str:
    return f"""
    bptw AS (
        SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
            SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
            FROM documents WHERE text IS NOT NULL
        ) GROUP BY w
    ),
    v0 AS (
        SELECT w, freq,
               list_aggregate(
                   list_transform(range(1, length(w) + 1),
                                  i -> '{{' || substr(w, i, 1) || '}}'),
                   'string_agg', '') || '{{{_BPT_EOW}}}' AS s
        FROM bptw
    )"""


def _sql_bpt_iters() -> str:
    parts = []
    for t in range(1, _BPT_STEPS + 1):
        parts.append(f"""
    p{t} AS (
        SELECT pr[1] AS l, pr[2] AS r, CAST(sum(freq) AS BIGINT) AS cnt
        FROM (
            SELECT freq,
                   unnest(list_transform(range(1, len(sy)),
                                         i -> [sy[i], sy[i + 1]])) AS pr
            FROM (SELECT freq,
                         string_split(substr(s, 2, length(s) - 2), '}}{{') AS sy
                  FROM v{t - 1})
            WHERE len(sy) >= 2
        ) GROUP BY pr[1], pr[2]
    ),
    b{t} AS (SELECT l, r, cnt FROM p{t} ORDER BY cnt DESC, l, r LIMIT 1),
    v{t} AS (
        SELECT w, freq,
               replace(s, '{{' || l || '}}{{' || r || '}}',
                       '{{' || l || r || '}}') AS s
        FROM v{t - 1} CROSS JOIN b{t}
    )""")
    return ",".join(parts)


def _bpt_vocab0(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(word, freq, s): lowercased letter-run vocabulary with counts and
    the initial wrapped-character tokenization state."""
    docs = load_table(spark, sf_dir, "documents").select("text")
    words = docs.where(F.col("text").isNotNull()).select(
        F.explode(F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).alias(
            "w"
        )
    )
    wf = words.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("freq"))
    wrapped = F.array_join(
        F.transform(
            F.sequence(F.lit(1), F.length("w")),
            lambda i: F.concat(
                F.lit("{"), F.col("w").substr(i, F.lit(1)), F.lit("}")
            ),
        ),
        "",
    )
    return wf.select(
        "w", "freq", F.concat(wrapped, F.lit("{" + _BPT_EOW + "}")).alias("s")
    )


def _bpt_pair_counts(v: DataFrame) -> DataFrame:
    """One C46-shaped counting round over the wrapped-symbol states:
    weighted adjacent-pair counts, bounded by the symbol vocabulary²."""
    sy = F.split(F.expr("substring(s, 2, length(s) - 2)"), "\\}\\{")
    pairs = (
        v.select("freq", sy.alias("sy"))
        # a fully-merged word is ONE symbol; sequence(1, 0) would run
        # BACKWARD in Spark (the fnv1a32 gotcha), so gate on len >= 2
        .where(F.size("sy") >= 2)
        .select(
            "freq",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("sy") - 1),
                    lambda i: F.struct(
                        F.element_at("sy", i).alias("l"),
                        F.element_at("sy", i + 1).alias("r"),
                    ),
                )
            ).alias("pr"),
        )
    )
    return pairs.groupBy("pr.l", "pr.r").agg(
        F.sum("freq").cast("long").alias("cnt")
    )


def _bpt_train(
    vocab: DataFrame, steps: int = _BPT_STEPS
) -> tuple[DataFrame, DataFrame]:
    """THE merge-training loop: count -> argmax -> re-tokenize for
    ``steps`` rounds over a (w, freq, s) vocabulary table.  Returns
    (merge table, final vocabulary state) — C72 ships the former, C74's
    encoder is the latter; ONE loop so the trained merges and the
    applied tokenization can never drift.

    Per round: ONE partial-agg exchange onto the symbol-pair key space
    (bounded by vocab², tiny) with a 1-row TakeOrdered argmax using the
    total order (cnt DESC, l, r), COLLECTED to the driver (model-sized),
    then a ROW-LOCAL literal replace over the vocabulary.  The literal
    projects collapse into one stacked projection over the checkpointed
    base vocab, so round t re-derives t replaces — bounded-vocab string
    work, no join, no exchange — instead of paying a localCheckpoint +
    broadcast per round (r10 A/B: 3 jobs/round -> 1, bpe_train ~2x)."""
    spark = vocab.sparkSession
    merges = []
    v = vocab.localCheckpoint(eager=True)
    for t in range(1, steps + 1):
        row = (
            _bpt_pair_counts(v)
            .orderBy(F.col("cnt").desc(), "l", "r")
            .limit(1)
            .collect()
        )
        # The 1-row argmax is COLLECTED (model-sized — one (l, r, cnt)
        # triple) and re-applied as LITERALS: the r10 A/B measured the
        # old per-round eager best/vocab localCheckpoints + broadcast
        # crossJoin at 3 jobs/round vs 1 here, and the literal replace
        # projects collapse into one stacked row-local projection over
        # the checkpointed base — re-deriving t replaces on round t is
        # pure string work on the bounded vocab table (no join, no
        # exchange), cheaper than a materialization per round at every
        # scale where the vocab fits the 10^7-row law below.
        if not row:
            merges.append(
                spark.range(1)
                .select(
                    F.lit(t).cast("long").alias("step"),
                    F.lit(None).cast("string").alias("left"),
                    F.lit(None).cast("string").alias("right"),
                    F.lit(None).cast("string").alias("merged"),
                    F.lit(None).cast("long").alias("cnt"),
                )
                .where(F.lit(False))
            )
            # old semantics: crossJoin with the empty best emptied v
            # (and every later round's argmax over empty v stays empty)
            v = v.where(F.lit(False))
            continue
        l, r, cnt = row[0]["l"], row[0]["r"], int(row[0]["cnt"])
        merges.append(
            spark.range(1).select(
                F.lit(t).cast("long").alias("step"),
                F.lit(l).alias("left"),
                F.lit(r).alias("right"),
                F.lit(l + r).alias("merged"),
                F.lit(cnt).cast("long").alias("cnt"),
            )
        )
        v = v.select(
            "w",
            "freq",
            F.replace(
                F.col("s"), F.lit("{" + l + "}{" + r + "}"), F.lit("{" + l + r + "}")
            ).alias("s"),
        )
    out = merges[0]
    for m in merges[1:]:
        out = out.unionByName(m)
    return out, v


def train_bpe(vocab: DataFrame, steps: int = _BPT_STEPS) -> DataFrame:
    """The ordered merge table of ``_bpt_train`` — the model.  API twin
    of the registered C72 query (run it on your own word counts)."""
    return _bpt_train(vocab, steps)[0]


@register(
    "bpe_train",
    oracle=f"""
    WITH {_sql_bpt_v0()},
    {_sql_bpt_iters()}
    {" UNION ALL ".join(
        f"SELECT CAST({t} AS BIGINT) AS step, l AS left, r AS right,"
        f" l || r AS merged, cnt FROM b{t}"
        for t in range(1, _BPT_STEPS + 1)
    )}
    """,
)
def bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training (C72): {_BPT_STEPS} full merge rounds over
    the corpus vocabulary — the count job C46 runs once, iterated with
    the argmax merge applied between rounds (Sennrich et al. 2016's
    learn_bpe, the canonical corpus-scale counting loop behind every
    production tokenizer).  Output is the ordered merge table — the
    model a tokenizer ships.

    Determinism: pure integer counts; the argmax uses the total order
    (cnt DESC, left, right); re-tokenization is string replace over
    {{}}-wrapped symbols, whose leftmost-nonoverlapping semantics equal
    BPE's greedy left-to-right merge on BOTH engines (see _BPT_EOW note;
    probed: '{{a}}{{a}}{{a}}' and '{{a}}{{b}}{{a}}{{b}}' agree).  The
    oracle unrolls all {_BPT_STEPS} rounds as CTEs; a pure-Python twin
    pytest re-derives the merge table from Sennrich's reference
    algorithm directly.

    Scale shape: the corpus is scanned ONCE into word counts (map-side
    combine onto the vocabulary key space); every round after that
    touches only the vocabulary relation — pair counting partial-aggs
    onto the bounded symbol-pair space, the 1-row argmax broadcasts
    back, and the merge applies row-local.  At 100 TB the vocab table is
    ~10⁷ rows regardless of corpus size: the loop costs T vocab passes,
    not T corpus passes."""
    return train_bpe(_bpt_vocab0(spark, sf_dir))


# ---------------------------------------------------------------------------
# C74. bpe_tokenize — apply the C72-trained tokenizer corpus-wide
# (the encode step: train_bpe's merge chain leaves every vocabulary word
# in its final tokenized state; joining the corpus against that bounded
# vocabulary table prices any tokenizer change in one pass)


def bpe_tokenized_vocab(vocab: DataFrame, steps: int = _BPT_STEPS) -> DataFrame:
    """The WORD table in its final tokenized state: (w, freq, n_bpe) with
    n_bpe = symbols left after ``steps`` merges.  _bpt_train's state
    evolution IS the encoder (applying merges in order = replaying the
    chain), so there is exactly ONE tokenization definition — a drifted
    standalone encoder would silently disagree with the trained merges."""
    _, v = _bpt_train(vocab, steps)
    sy = F.split(F.expr("substring(s, 2, length(s) - 2)"), "\\}\\{")
    return v.select("w", "freq", F.size(sy).cast("long").alias("n_bpe"))


@register(
    "bpe_tokenize",
    oracle=f"""
    WITH {_sql_bpt_v0()},
    {_sql_bpt_iters()},
    tok AS (
        SELECT w,
               CAST(len(string_split(substr(s, 2, length(s) - 2), '}}{{'))
                    AS BIGINT) AS n_bpe
        FROM v{_BPT_STEPS}
    ),
    docw AS (
        SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
        FROM documents WHERE text IS NOT NULL
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(t.n_bpe) AS BIGINT) AS n_bpe_tokens,
           CAST((sum(t.n_bpe) * 1000000) // count(*) AS BIGINT)
               AS fertility_ppm
    FROM docw JOIN tok t USING (w)
    GROUP BY doc_id
    """,
)
def bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the C72-trained BPE tokenizer corpus-wide (C74): per doc,
    word count, post-merge BPE token count (incl. the end-of-word
    symbol), and fertility (tokens per word, integer ppm) — the encode
    pass that prices a tokenizer change over the whole corpus (C69
    measures a FIXED regex tokenizer; this one measures the model C72
    just trained, so train -> eval composes end-to-end).

    Scale shape: training touches only the vocabulary relation (C72);
    the final merge state doubles as the ENCODER — per-word token counts
    on the bounded vocab table, broadcast-joined against one corpus word
    stream, partial-agged onto doc_id.  The 100 TB corpus is scanned
    once (twice including the vocab count build), and no per-occurrence
    re-tokenization happens anywhere: each distinct word is encoded
    exactly once."""
    tok = bpe_tokenized_vocab(_bpt_vocab0(spark, sf_dir)).select("w", "n_bpe")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    docw = docs.where(F.col("text").isNotNull()).select(
        "doc_id",
        F.explode(F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).alias(
            "w"
        ),
    )
    return (
        docw.join(F.broadcast(tok), "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_bpe").cast("long").alias("n_bpe_tokens"),
        )
        .selectExpr(
            "doc_id",
            "n_words",
            "n_bpe_tokens",
            "(n_bpe_tokens * 1000000L) div n_words as fertility_ppm",
        )
    )
