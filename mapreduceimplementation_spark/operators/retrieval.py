"""Retrieval operators for LLM-data pipelines (SURVEY.md §2 C56, C61):
BM25 ranked retrieval over the documents table and hybrid lexical+vector
fusion (reciprocal-rank fusion) against the embeddings table.

Scale design (the 100 TB contract):

- The inverted relation (doc_id, term, tf) is the same map shape as the
  reference's inverted index (src/mrapps/indexer.go:1-38) with counts
  carried; corpus statistics (df, avgdl) are partial-agg exchanges
  bounded by vocabulary, not corpus size.
- Query terms join the postings by term equi-join with the query side
  broadcast — candidate volume is the postings of the query's terms
  only, never a corpus scan per query.  Per-query top-k is a bounded
  window over those candidates.
- Scores are summed as integer micro-units (per-term contribution
  floor'd to 1e-6 grain BEFORE the sum): double summation is
  order-dependent across partitionings, integer summation is not, so
  ranks are bit-stable across cluster sizes AND engines — the same
  discipline as embedding_outliers/quality_lm_score.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mapreduceimplementation_spark.functions.text import word_tokens
from mapreduceimplementation_spark.functions.vectors import dot, round6
from mapreduceimplementation_spark.functions.vectors import sql_round6 as _sql_round6
from mapreduceimplementation_spark.registry import register
from mapreduceimplementation_spark.sources.tables import load_table

_BM25_K1 = "CAST(1.2 AS DOUBLE)"  # term-frequency saturation
_BM25_B = "CAST(0.75 AS DOUBLE)"  # length normalization
_BM25_PROBES = 4  # query-by-example probes: the 4 lowest doc_ids
_BM25_TOPK = 5

#: default probes: the lowest-doc_id documents that have tokens at all
_SQL_BM25_PROBES = f"SELECT doc_id AS q_id FROM dl ORDER BY doc_id LIMIT {_BM25_PROBES}"


def _sql_bm25_ctes(probe_sql: str) -> str:
    """The BM25 CTE chain (tok/dl/stats/df/probes/qterms/contrib/scored)
    with a pluggable probe relation — ONE scoring definition shared by the
    C56 oracle and the C61 hybrid-fusion oracle so the two cannot drift."""
    return f"""tok AS (
        SELECT doc_id, w AS term, count(*) AS tf
        FROM (SELECT doc_id,
                     unnest(list_filter(regexp_split_to_array(text, '[^A-Za-z]+'),
                                        x -> x <> '')) AS w
              FROM documents WHERE text IS NOT NULL)
        GROUP BY 1, 2
    ), dl AS (
        SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tok GROUP BY 1
    ), stats AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
        FROM dl
    ), df AS (
        SELECT term, CAST(count(*) AS BIGINT) AS df FROM tok GROUP BY 1
    ), probes AS (
        {probe_sql}
    ), qterms AS (
        SELECT p.q_id, t.term
        FROM probes p JOIN tok t ON t.doc_id = p.q_id
    ), contrib AS (
        SELECT q.q_id, t.doc_id,
               CAST(floor(
                   ln((CAST(s.n_docs AS DOUBLE) - CAST(f.df AS DOUBLE)
                       + CAST(0.5 AS DOUBLE))
                      / (CAST(f.df AS DOUBLE) + CAST(0.5 AS DOUBLE))
                      + CAST(1 AS DOUBLE))
                   * (CAST(t.tf AS DOUBLE) * ({_BM25_K1} + CAST(1 AS DOUBLE)))
                     / (CAST(t.tf AS DOUBLE)
                        + {_BM25_K1} * (CAST(1 AS DOUBLE) - {_BM25_B}
                           + {_BM25_B} * CAST(d.dl AS DOUBLE) / s.avgdl))
                   * CAST(1000000 AS DOUBLE)) AS BIGINT) AS c
        FROM qterms q
        JOIN tok t ON t.term = q.term AND t.doc_id <> q.q_id
        JOIN df f ON f.term = q.term
        JOIN dl d ON d.doc_id = t.doc_id
        CROSS JOIN stats s
    ), scored AS (
        SELECT q_id, doc_id, CAST(sum(c) AS BIGINT) AS score_micro
        FROM contrib GROUP BY 1, 2
    )"""


@register(
    "bm25_topk",
    oracle=f"""
    WITH {_sql_bm25_ctes(_SQL_BM25_PROBES)}
    SELECT q_id, CAST(rnk AS BIGINT) AS rnk, doc_id, score_micro
    FROM (SELECT q_id, doc_id, score_micro,
                 row_number() OVER (PARTITION BY q_id
                                    ORDER BY score_micro DESC, doc_id) AS rnk
          FROM scored)
    WHERE rnk <= {_BM25_TOPK}
    """,
)
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-{_BM25_TOPK} retrieval, query-by-example: the {_BM25_PROBES}
    lowest-doc_id documents act as probes and every other document is
    ranked by Okapi BM25 (k1=1.2, b=0.75, Lucene's +1 idf floor so common
    terms score >= 0) over the shared terms — the retrieval primitive
    behind decontamination-by-retrieval pipelines and RAG index QA
    (C27 decontaminates by exact shingle; retrieval audits the fuzzy
    tail the shingle join misses).

    Ranking is bit-stable: each per-term contribution is floor'd to an
    integer micro-unit BEFORE summation (double sums are order-dependent
    across partitionings and engines; integer sums are not), idf/tf
    arithmetic is stated in the exact same IEEE op order in both
    engines, and ties break on doc_id.

    Scale shape: postings (doc_id, term, tf) and df/dl/avgdl are
    vocabulary- or doc-bounded partial-agg exchanges off ONE corpus
    scan; the probe-term relation is tiny and BROADCAST into the
    postings equi-join, so candidate volume is the postings of the
    query's terms, never docs x queries; per-query scoring is one
    exchange on (q_id, doc_id) and the top-k window partitions on q_id.
    The exact corpus-wide window is the audit harness — production runs
    the same plan per query batch against a term-partitioned postings
    table.

    Reference anchor: postings build = src/mrapps/indexer.go:1-38 map
    shape with counts; the scoring join is ii.go's word->docs inversion
    consumed query-side."""
    probes_of = lambda dl: dl.select(  # noqa: E731
        F.col("doc_id").alias("q_id")
    ).orderBy("q_id").limit(_BM25_PROBES)
    scored = _bm25_scored(spark, sf_dir, probes_of)
    w = Window.partitionBy("q_id").orderBy(F.col("score_micro").desc(), "doc_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= _BM25_TOPK)
        .select("q_id", "rnk", "doc_id", "score_micro")
    )


def _bm25_scored(spark: SparkSession, sf_dir: str, probes_of) -> DataFrame:
    """Full BM25 scoring relation (q_id, doc_id, score_micro) — the Spark
    twin of ``_sql_bm25_ctes``; ``probes_of(dl)`` supplies the probe set
    (C56: lowest doc_ids with tokens; C61: lowest ids present in both
    documents and embeddings)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tok = (
        word_tokens(docs.where(F.col("text").isNotNull()), "text", "term")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # postings feed dl, df, stats, qterms AND the scoring join: one
    # materialization (the tiny-multi-use-relation rule does not apply —
    # tok is corpus-sized — but recomputing the scan 5x would; checkpoint
    # keeps the exhibit honest at one scan)
    tok = tok.localCheckpoint()
    dl = tok.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "avgdl"
        ),
    )
    df_ = tok.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    probes = probes_of(dl)
    qterms = F.broadcast(
        probes.join(tok, probes["q_id"] == tok["doc_id"]).select("q_id", "term")
    )
    d = lambda c: c.cast("double")  # noqa: E731
    k1 = F.expr(_BM25_K1)
    b = F.expr(_BM25_B)
    one = F.expr("CAST(1 AS DOUBLE)")
    half = F.expr("CAST(0.5 AS DOUBLE)")
    cand = (
        qterms.join(
            tok.alias("t"),
            (F.col("t.term") == qterms["term"])
            & (F.col("t.doc_id") != qterms["q_id"]),
        )
        .select("q_id", F.col("t.doc_id").alias("doc_id"), F.col("t.term").alias("term"), "tf")
        .join(df_, "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
    )
    idf = F.log((d(F.col("n_docs")) - d(F.col("df")) + half) / (d(F.col("df")) + half) + one)
    tf_norm = (d(F.col("tf")) * (k1 + one)) / (
        d(F.col("tf")) + k1 * (one - b + b * d(F.col("dl")) / F.col("avgdl"))
    )
    contrib = cand.select(
        "q_id",
        "doc_id",
        F.floor(idf * tf_norm * F.expr("CAST(1000000 AS DOUBLE)"))
        .cast("long")
        .alias("c"),
    )
    return contrib.groupBy("q_id", "doc_id").agg(
        F.sum("c").cast("long").alias("score_micro")
    )


# ---------------------------------------------------------------------------
# C61. hybrid_search_rrf — lexical + vector fusion (reciprocal-rank fusion)

_RRF_K = 60  # Cormack et al. SIGIR'09 constant
_RRF_TOPK = 10
_RRF_SCALE = "CAST(1000000000 AS DOUBLE)"  # 1e9: 1/(60+r) keeps ~7 digits

#: hybrid probes: lowest ids present in BOTH modalities (a doc with text
#: tokens AND an embedding), stated against the BM25 dl CTE + embeddings
_SQL_RRF_PROBES = f"""
        SELECT dl.doc_id AS q_id
        FROM dl JOIN embeddings e ON e.vec_id = dl.doc_id
        WHERE len(e.embedding) > 0
        ORDER BY 1 LIMIT {_BM25_PROBES}
"""


def _sql_rrf_term(rank: str) -> str:
    return (
        f"COALESCE(CAST(1 AS DOUBLE) / (CAST({_RRF_K} AS DOUBLE)"
        f" + CAST({rank} AS DOUBLE)), CAST(0 AS DOUBLE))"
    )


def _rrf_oracle() -> str:
    from mapreduceimplementation_spark.operators.vectors import (  # noqa: PLC0415
        _SQL_COS,
        _SQL_NORMED,
    )

    return f"""
    WITH {_sql_bm25_ctes(_SQL_RRF_PROBES)},
    {_SQL_NORMED},
    lex AS (
        SELECT q_id, doc_id,
               CAST(row_number() OVER (PARTITION BY q_id
                    ORDER BY score_micro DESC, doc_id) AS BIGINT) AS lex_rank
        FROM scored
    ),
    sem AS (
        SELECT q_id, doc_id, CAST(row_number() OVER (PARTITION BY q_id
                    ORDER BY cos DESC, doc_id) AS BIGINT) AS sem_rank
        FROM (
            SELECT p.q_id, nc.vec_id AS doc_id, {_sql_round6(_SQL_COS)} AS cos
            FROM probes p, n nq, n nc
            WHERE nq.vec_id = p.q_id AND nc.vec_id <> p.q_id
        )
    ),
    fused AS (
        SELECT COALESCE(l.q_id, s.q_id) AS q_id,
               COALESCE(l.doc_id, s.doc_id) AS doc_id,
               l.lex_rank, s.sem_rank,
               CAST(floor(({_sql_rrf_term("l.lex_rank")}
                           + {_sql_rrf_term("s.sem_rank")})
                          * {_RRF_SCALE}) AS BIGINT) AS rrf_micro
        FROM lex l FULL OUTER JOIN sem s
          ON s.q_id = l.q_id AND s.doc_id = l.doc_id
    )
    SELECT q_id, CAST(rnk AS BIGINT) AS rnk, doc_id, rrf_micro,
           lex_rank, sem_rank
    FROM (SELECT *, row_number() OVER (PARTITION BY q_id
                    ORDER BY rrf_micro DESC, doc_id) AS rnk
          FROM fused)
    WHERE rnk <= {_RRF_TOPK}
    """


@register("hybrid_search_rrf", oracle=_rrf_oracle())
def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 lexical ranks fused with exact-cosine vector
    ranks by reciprocal-rank fusion (RRF, Cormack et al. SIGIR'09:
    score = sum 1/(60+rank)) — the stock recipe of every modern two-tower
    search stack (lexical recalls exact terms, vectors recall paraphrase;
    RRF needs no score calibration because it consumes only RANKS).
    Probes are the {_BM25_PROBES} lowest ids present in BOTH modalities;
    output is the fused top-{_RRF_TOPK} per probe with the per-modality
    ranks carried (NULL = not retrieved by that modality).

    Correctness shape: the lexical relation is the IDENTICAL scoring
    definition as C56 (one shared CTE/Builder — the two cannot drift) with
    only the probe set swapped; ranks are computed over bit-stable keys
    (integer micro-unit BM25 scores; half-away-floor cos grain as C10),
    ties on doc_id; the two RRF terms are divided and summed in a fixed
    order and floor'd to 1e-9-grain integers, so the fused ranking is
    engine-exact and the full FULL OUTER fusion join is stated literally
    in the oracle.

    Scale shape: everything the C56/C10 plans do (one corpus scan for
    postings, vocab-bounded stats, broadcast probe terms; broadcast probe
    vectors streamed over the corpus once) plus ONE fusion join keyed on
    (q_id, doc_id) — both sides are per-probe rankings, so its volume is
    probes x corpus, and in production both sides are first cut to
    per-modality top-k making the fusion join trivially small.  The
    corpus-wide ranking here is the audit harness, same contract as C56."""
    from mapreduceimplementation_spark.operators.vectors import _normed  # noqa: PLC0415

    n = _normed(spark, sf_dir)
    probes_of = lambda dl: (  # noqa: E731
        dl.join(n, dl["doc_id"] == n["vec_id"])
        .select(F.col("doc_id").alias("q_id"))
        .orderBy("q_id")
        .limit(_BM25_PROBES)
    )
    scored = _bm25_scored(spark, sf_dir, probes_of)
    wlex = Window.partitionBy("q_id").orderBy(F.col("score_micro").desc(), "doc_id")
    lex = scored.select(
        "q_id", "doc_id", F.row_number().over(wlex).cast("long").alias("lex_rank")
    )
    # semantic: broadcast the probe vectors, stream the corpus once (the
    # C10 BroadcastNestedLoopJoin-by-design class)
    # probe set must equal the oracle's dl-based set: docs with >=1 token
    # (a doc tokenizes to >=1 word iff its text contains a letter) that
    # also carry a non-empty embedding
    probes = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .where(F.col("text").isNotNull() & F.col("text").rlike("[A-Za-z]"))
        .join(n, F.col("doc_id") == n["vec_id"])
        .select(
            F.col("doc_id").alias("q_id"),
            F.col("v").alias("qv"),
            F.col("nrm").alias("qnrm"),
        )
        .orderBy("q_id")
        .limit(_BM25_PROBES)
    )
    cos = round6(dot("v", "qv") / (F.col("nrm") * F.col("qnrm")))
    wsem = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), "doc_id")
    sem = (
        n.crossJoin(F.broadcast(probes))
        .where(F.col("vec_id") != F.col("q_id"))
        .select("q_id", F.col("vec_id").alias("doc_id"), cos.alias("cos"))
        .select(
            "q_id",
            "doc_id",
            F.row_number().over(wsem).cast("long").alias("sem_rank"),
        )
    )
    term = lambda c: F.coalesce(  # noqa: E731
        F.lit(1.0) / (F.lit(float(_RRF_K)) + c.cast("double")), F.lit(0.0)
    )
    fused = (
        lex.alias("l")
        .join(
            sem.alias("s"),
            (F.col("s.q_id") == F.col("l.q_id"))
            & (F.col("s.doc_id") == F.col("l.doc_id")),
            "full_outer",
        )
        .select(
            F.coalesce(F.col("l.q_id"), F.col("s.q_id")).alias("q_id"),
            F.coalesce(F.col("l.doc_id"), F.col("s.doc_id")).alias("doc_id"),
            F.col("l.lex_rank").alias("lex_rank"),
            F.col("s.sem_rank").alias("sem_rank"),
            F.floor(
                (term(F.col("l.lex_rank")) + term(F.col("s.sem_rank")))
                * F.expr(_RRF_SCALE)
            )
            .cast("long")
            .alias("rrf_micro"),
        )
    )
    wf = Window.partitionBy("q_id").orderBy(F.col("rrf_micro").desc(), "doc_id")
    return (
        fused.withColumn("rnk", F.row_number().over(wf).cast("long"))
        .where(F.col("rnk") <= _RRF_TOPK)
        .select("q_id", "rnk", "doc_id", "rrf_micro", "lex_rank", "sem_rank")
    )


# ---------------------------------------------------------------------------
# C78. phrase_search — exact phrase matching via positional postings

#: phrase probes: the _PHR_PROBES lowest-doc_id docs long enough to donate
#: a phrase; each donates the 3 words at positions _PHR_AT.._PHR_AT+2
#: (query-by-example, the C56 probe discipline — every phrase has at
#: least its donor as a guaranteed match)
_PHR_PROBES = 4
_PHR_AT = 10  # 1-based donor position of the phrase's first word
_PHR_LEN = 3


@register(
    "phrase_search",
    oracle=f"""
    WITH ws AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(text, '[^A-Za-z]+'),
                           x -> x <> '') AS ws
        FROM documents WHERE text IS NOT NULL
    ), probes AS (
        SELECT doc_id AS phrase_id,
               ws[{_PHR_AT}] AS w1, ws[{_PHR_AT + 1}] AS w2,
               ws[{_PHR_AT + 2}] AS w3
        FROM ws WHERE len(ws) >= {_PHR_AT + _PHR_LEN - 1}
        ORDER BY doc_id LIMIT {_PHR_PROBES}
    ), matches AS (
        SELECT p.phrase_id,
               p.w1 || ' ' || p.w2 || ' ' || p.w3 AS phrase,
               d.doc_id, i AS pos
        FROM probes p, ws d, UNNEST(range(1, len(d.ws) - 1)) AS t(i)
        WHERE d.ws[i] = p.w1 AND d.ws[i+1] = p.w2 AND d.ws[i+2] = p.w3
    )
    SELECT phrase_id, phrase, doc_id,
           CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(min(pos) AS BIGINT) AS first_pos,
           doc_id = phrase_id AS is_self
    FROM matches GROUP BY 1, 2, 3
    """,
)
def phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search via a POSITIONAL inverted index — the IR
    operator A2's document-level index cannot answer: find every doc
    containing the words of a phrase CONSECUTIVELY.  Postings carry
    (doc_id, term, position); a phrase of length L matches at start s
    iff all L (term, offset) pairs land at s = pos - offset — the
    classical positional-intersection, expressed as one equi-join and a
    count-distinct-offsets group (no per-doc scan, no regex over text).

    The oracle deliberately takes the NAIVE path (scan every doc's word
    array for the phrase) — same semantics, opposite strategy — so a
    green row certifies the postings-join against an implementation it
    shares nothing with.

    Scale shape: postings are one posexplode projection (row-local);
    the phrase-term relation is broadcast (bounded by queries × L), so
    candidate volume is the postings of the QUERIED terms only — never
    a corpus scan per query; the (phrase, doc, start) group key is
    uniform; text itself never joins or shuffles.  At 100 TB the
    positional postings are the stored index (written once, queried
    many), exactly how a search tier runs phrase queries."""
    from mapreduceimplementation_spark.functions.text import word_array

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ws = docs.where(F.col("text").isNotNull()).select(
        "doc_id", word_array("text").alias("ws")
    )
    probes = (
        ws.where(F.size("ws") >= _PHR_AT + _PHR_LEN - 1)
        .orderBy("doc_id")
        .limit(_PHR_PROBES)
        .select(
            F.col("doc_id").alias("phrase_id"),
            F.array(
                *[F.element_at("ws", _PHR_AT + j) for j in range(_PHR_LEN)]
            ).alias("terms"),
        )
        .select(
            "phrase_id",
            F.array_join("terms", " ").alias("phrase"),
            F.posexplode("terms").alias("offset", "term"),
        )
    )
    postings = ws.select(
        "doc_id", F.posexplode("ws").alias("pos0", "term")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "term")
    cand = postings.join(F.broadcast(probes), "term").select(
        "phrase_id",
        "phrase",
        "doc_id",
        (F.col("pos") - F.col("offset")).alias("start"),
        "offset",
    )
    starts = (
        cand.groupBy("phrase_id", "phrase", "doc_id", "start")
        .agg(F.countDistinct("offset").alias("n_off"))
        .where(F.col("n_off") == _PHR_LEN)
    )
    return starts.groupBy("phrase_id", "phrase", "doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences"),
        F.min("start").cast("long").alias("first_pos"),
    ).select(
        "phrase_id",
        "phrase",
        "doc_id",
        "n_occurrences",
        "first_pos",
        (F.col("doc_id") == F.col("phrase_id")).alias("is_self"),
    )
