"""Deduplication operators for LLM-data pipelines (SURVEY.md §2 C1, C6–C8):
exact dedup, exact n-gram Jaccard, MinHash+LSH, SimHash.

Scale design (the 100 TB contract):

- Per-document work (shingling, hashing, MinHash signatures, SimHash bit
  votes) is **row-local** — higher-order functions over arrays inside
  whole-stage codegen.  No shuffle is spent computing a signature; the only
  exchanges are the candidate-generation joins, which are *band/bucket*
  equi-joins (LSH) — candidate volume scales with the number of true
  near-dup pairs, not O(n²).
- ``dedup_ngram_jaccard`` is the clearly-named exact baseline: its
  per-shingle pair expansion is quadratic in shingle document frequency
  and exists to verify the probabilistic operators at test scale.  At
  100 TB you run ``dedup_minhash_lsh`` (bucket pairs + exact re-verify of
  candidate documents only).
- Every hash is md5-derived (functions/hashing.py) so signatures are
  deterministic across engines, Spark versions, and cluster sizes — a
  resumed or re-run dedup job produces the same pairs, and DuckDB can
  replay the exact computation as the correctness oracle.

Reference anchor: the shingle→docs inversion is the same map shape as the
reference's inverted index (src/mrapps/indexer.go:1-38 word→docs); exact
dedup's hash-groupBy is wc.go's shuffle with md5(normalized text) as key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mapreduceimplementation_spark.functions.hashing import (
    MERSENNE_61,
    hash64,
    py_hash64 as _h64_py,
    sql_hash64,
)
from mapreduceimplementation_spark.functions.text import (
    ngrams_of_words,
    sql_word_ngrams,
    word_array,
    word_chunks,
)
from mapreduceimplementation_spark.functions.stable import round6, sql_round6
from mapreduceimplementation_spark.registry import BASELINE_CLASS, register
from mapreduceimplementation_spark.session import spread
from mapreduceimplementation_spark.sources.tables import load_table

_SHINGLE_N = 3  # word 3-gram shingles for all near-dup operators
_TAU = 0.8  # Jaccard threshold for near-dup pairs

# ---------------------------------------------------------------------------
# C1. exact dedup


@register(
    "dedup_exact",
    oracle=r"""
    SELECT doc_id,
           text_hash,
           min(doc_id) OVER (PARTITION BY text_hash) AS canonical_id,
           count(*)    OVER (PARTITION BY text_hash) AS group_size,
           doc_id <> min(doc_id) OVER (PARTITION BY text_hash) AS is_dup
    FROM (
        SELECT doc_id,
               md5(regexp_replace(trim(lower(text)), '[ \t\n]+', ' ', 'g')) AS text_hash
        FROM documents WHERE text IS NOT NULL
    )
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate groups by md5 of whitespace-normalized lowercase text.

    One shuffle on the 128-bit hash (window partitionBy) — at 100 TB the
    hash key is uniform so there is no skew, and the shuffled payload is
    (doc_id, hash), not the text itself.  canonical_id = min doc_id of the
    group is the survivor; is_dup marks rows a pipeline would drop.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    norm = F.regexp_replace(F.trim(F.lower(F.col("text"))), "[ \\t\\n]+", " ")
    hashed = docs.where(F.col("text").isNotNull()).select(
        "doc_id", F.md5(norm).alias("text_hash")
    )
    w = Window.partitionBy("text_hash")
    return hashed.select(
        "doc_id",
        "text_hash",
        F.min("doc_id").over(w).alias("canonical_id"),
        F.count(F.lit(1)).over(w).alias("group_size"),
        (F.col("doc_id") != F.min("doc_id").over(w)).alias("is_dup"),
    )


# ---------------------------------------------------------------------------
# shared shingle helpers


def _shingled(docs: DataFrame, spark: SparkSession | None = None) -> DataFrame:
    """(doc_id, sh_arr): distinct word-3gram shingles as a row-local array.

    Built in two projection steps (words, then shingles) so each stage
    reads a materialized column — inlining the split into the shingle
    lambda re-runs the regex per shingle (O(words²) per doc, measured 3x+
    slower at sf0.1).  The min-words filter lives HERE, on the cheap ws
    column, so downstream ops must NOT re-filter on derived arrays: a
    late `where(size(hs) > 0)` gets predicate-pushed to the scan with the
    whole shingle+hash expression tree inlined into it, re-running the
    split per element_at — a measured 10x pathology at sf0.1."""
    if spark is not None:
        docs = spread(docs, spark)  # HOF-heavy stage: never run one-core
    return (
        docs.where(F.col("text").isNotNull())
        .select("doc_id", word_array("text").alias("ws"))
        .where(F.size("ws") >= _SHINGLE_N)
        .select(
            "doc_id",
            F.array_distinct(ngrams_of_words("ws", _SHINGLE_N)).alias("sh_arr"),
        )
    )


def _shingles(docs: DataFrame, spark: SparkSession | None = None) -> DataFrame:
    """Exploded distinct (doc_id, sh) relation — indexer.go's word→doc shape.

    explode_outer, NOT explode: plain explode makes InferFiltersFromGenerate
    add a `size(sh_arr) > 0` filter that predicate-pushdown inlines into the
    scan as the full shingle expression tree (per-element split re-eval — a
    measured ~20x pathology).  The arrays are provably non-empty (_shingled
    filters on word count), so the outer variant is semantically identical.
    """
    return _shingled(docs, spark).select(
        "doc_id", F.explode_outer("sh_arr").alias("sh")
    )


#: DuckDB twin of ``_shingles`` (distinct (doc_id, sh) shingle relation)
_SQL_SH = sql_word_ngrams(_SHINGLE_N)


def _bucket_pairs(df: DataFrame, keys: list[str], payload: list[str]) -> DataFrame:
    """All a<b pairs within each bucket — groupBy + in-bucket expansion.

    ONE shuffle on the bucket key instead of a self-join (which would
    shuffle — and recompute the bucket lineage — twice).  Payload columns
    ride along in the collected structs, so pair predicates (hamming,
    cosine) evaluate inline with zero re-joins.  Bucket sizes are bounded
    by near-dup cluster sizes; a pathological all-identical corpus makes
    candidate expansion quadratic in that one bucket, which is inherent to
    LSH candidate generation itself, not to this formulation.
    Returns columns a, b: structs of the payload fields, a < b.
    """
    items = F.array_sort(F.collect_list(F.struct(*payload)))
    g = df.groupBy(*keys).agg(items.alias("items")).where(F.size("items") >= 2)
    pairs = F.flatten(
        F.transform(
            F.col("items"),
            lambda x, i: F.transform(
                F.slice(F.col("items"), i + 2, F.size(F.col("items"))),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    return g.select(F.explode(pairs).alias("p")).select("p.a", "p.b")


def _verified_pairs(
    cand: DataFrame,
    docs: DataFrame,
    tau: float,
    spark: SparkSession | None = None,
    sh: DataFrame | None = None,
) -> DataFrame:
    """Exact-Jaccard verification of candidate (a_id, b_id) pairs.

    Joins only the candidates' shingle sets (candidate volume ≪ n²), so the
    cost is proportional to true-near-dup volume, not corpus size squared.
    The (already candidate-restricted) shingle relation is checkpointed
    once and feeds all three consumers (both join sides and the size
    relation) — without this, each consumer re-runs the scan+shingle
    lineage as its own stage chain.  Callers that already hold a
    checkpointed shingle relation pass it via ``sh`` so the expensive
    scan+split+n-gram stage is not repeated.
    """
    if sh is None:
        sh = _shingles(docs, spark).localCheckpoint()
    sz = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sha = sh.select(F.col("doc_id").alias("a_id"), "sh")
    shb = sh.select(F.col("doc_id").alias("b_id2"), F.col("sh").alias("shb"))
    common = (
        F.broadcast(cand)
        .join(sha, "a_id")
        .join(shb, (F.col("b_id") == F.col("b_id2")) & (F.col("sh") == F.col("shb")))
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    j = F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return (
        common.join(sz.select(F.col("doc_id").alias("a_id"), F.col("n").alias("na")), "a_id")
        .join(sz.select(F.col("doc_id").alias("b_id"), F.col("n").alias("nb")), "b_id")
        .where(j >= tau)
        .select("a_id", "b_id", round6(j).alias("jaccard"))
    )


#: DuckDB twin of ``_verified_pairs`` given CTEs ``cand(a_id, b_id)`` and
#: ``ws(doc_id, sh)``; emits (a_id, b_id, jaccard >= tau).
_SQL_VERIFY = f"""
    common AS (
        SELECT a_id, b_id, count(*) AS n_common
        FROM cand
        JOIN ws wa ON wa.doc_id = cand.a_id
        JOIN ws wb ON wb.doc_id = cand.b_id AND wb.sh = wa.sh
        GROUP BY a_id, b_id
    ),
    sz AS (SELECT doc_id, count(*) AS n FROM ws GROUP BY doc_id)
    SELECT a_id, b_id,
           {sql_round6('n_common * 1.0 / (sa.n + sb.n - n_common)')} AS jaccard
    FROM common
    JOIN sz sa ON sa.doc_id = a_id
    JOIN sz sb ON sb.doc_id = b_id
    WHERE n_common * 1.0 / (sa.n + sb.n - n_common) >= {_TAU}
"""


# ---------------------------------------------------------------------------
# C6. exact n-gram Jaccard (the verify-everything baseline)


def _pair_overlap_sizes(docs: DataFrame, spark: SparkSession | None):
    """Shared exact-pair machinery for C6 and C35: per-pair shingle
    overlap counts (a_id < b_id, from posting-list in-bucket expansion —
    one shuffle on the shingle key, never a doc self-join) plus per-doc
    distinct-shingle sizes, both derived from ONE localCheckpoint'ed
    shingled relation so the expensive scan+split+n-gram stage (see
    _shingled's perf notes) runs exactly once per invocation."""
    shd = _shingled(docs, spark).localCheckpoint()
    sh = shd.select("doc_id", F.explode_outer("sh_arr").alias("sh"))
    common = (
        _bucket_pairs(sh, ["sh"], ["doc_id"])
        .select(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sz = shd.select("doc_id", F.size("sh_arr").alias("n"))
    return common, sz


def _with_pair_sizes(common: DataFrame, sz: DataFrame) -> DataFrame:
    """Attach both endpoints' shingle-set sizes (na, nb) to pair rows."""
    return common.join(
        sz.select(F.col("doc_id").alias("a_id"), F.col("n").alias("na")), "a_id"
    ).join(
        sz.select(F.col("doc_id").alias("b_id"), F.col("n").alias("nb")), "b_id"
    )


@register(
    "dedup_ngram_jaccard",
    tags=(BASELINE_CLASS,),
    oracle=f"""
    WITH ws AS ({_SQL_SH}),
    cand AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM ws a JOIN ws b ON a.sh = b.sh AND a.doc_id < b.doc_id
    ),
    {_SQL_VERIFY}
    """,
)
def dedup_ngram_jaccard(
    spark: SparkSession, sf_dir: str, sample_mod: int | None = None
) -> DataFrame:
    """Exact word-3gram Jaccard near-dup pairs (j >= 0.8, _TAU).

    Candidate generation is the full shingle self-join — exact but
    quadratic in per-shingle document frequency.  This is the *baseline*
    that verifies ``dedup_minhash_lsh``; at 100 TB run the LSH variant,
    or run THIS on a sample: ``sample_mod=k`` keeps the deterministic
    1/k doc_id-hash slice ('split-'-independent salt, so sampling never
    correlates with the train/test split) — the mechanical escape the
    BASELINE_CLASS registry tag points at (bench/scale warn when the
    unsampled form runs; a recall audit only needs the sampled truth).
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    if sample_mod:
        docs = docs.where(
            hash64(F.col("doc_id").cast("string"), salt="bsample-")
            % sample_mod
            == 0
        )
    common, sz = _pair_overlap_sizes(docs, spark)
    j = F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return (
        _with_pair_sizes(common, sz)
        .where(j >= _TAU)
        .select("a_id", "b_id", round6(j).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# C7. MinHash + LSH banding

_MH_K = 24  # signature length
_MH_BANDS = 6  # bands of 4 rows each: P[miss j=0.97 pair] ~ (1-0.97^4)^6 < 3e-6
_MH_R = _MH_K // _MH_BANDS


#: universal-hash family constants, md5-derived so Spark, DuckDB and this
#: Python module all agree on every signature value.  The family first
#: XOR-mixes h with a per-perm 60-bit constant r, then applies
#: g(h) = (a*hi + b*lo + c) mod 2^61-1 over the mixed value's 30-bit
#: halves.  Every intermediate fits a 64-bit long (a,b < 2^30 so each
#: product < 2^60; sum < 2^62): pure long arithmetic, no decimal/HUGEINT
#: mulmod, ~5x cheaper per hash in codegen.  The XOR step is essential:
#: without it the low-wrap linear form ranks every perm by nearly the
#: same "smallest (hi,lo)" order, so distinct perms' argmins correlate
#: and minhash agreement no longer estimates Jaccard (observed: a j=0.9
#: pair agreeing on 6/24 perms instead of ~22/24).
_MH_MASK30 = (1 << 30) - 1
_MH_A = [(_h64_py(f"mh-a-{i}") % _MH_MASK30) + 1 for i in range(_MH_K)]
_MH_B = [(_h64_py(f"mh-b-{i}") % _MH_MASK30) + 1 for i in range(_MH_K)]
_MH_C = [_h64_py(f"mh-c-{i}") % MERSENNE_61 for i in range(_MH_K)]
_MH_R_ = [_h64_py(f"mh-r-{i}") for i in range(_MH_K)]


def _perm(h: Column, a: int, b: int, c: int, r: int) -> Column:
    m = h.bitwiseXOR(F.lit(r))
    return F.pmod(
        F.lit(a) * F.shiftright(m, 30)
        + F.lit(b) * m.bitwiseAND(F.lit(_MH_MASK30))
        + F.lit(c),
        F.lit(MERSENNE_61),
    )


def _sql_perm(expr: str, a: int, b: int, c: int, r: int) -> str:
    """DuckDB twin of ``_perm``."""
    mixed = f"xor({expr}, {r})"
    return (
        f"(({a} * (({mixed}) >> 30) + {b} * (({mixed}) & {_MH_MASK30}) + {c})"
        f" % {MERSENNE_61})"
    )


#: DuckDB CTE chain producing the LSH candidate relation ``cand(a_id,
#: b_id)`` from ``ws(doc_id, sh)`` — shared by the C7 oracle and the C48
#: recall audit so both engines and both operators see the SAME banding.
_SQL_MH_CAND = f"""
    h AS (SELECT doc_id, {sql_hash64('sh')} AS h FROM ws),
    sig AS (
        SELECT doc_id,
               {", ".join(f"min({_sql_perm('h', _MH_A[i], _MH_B[i], _MH_C[i], _MH_R_[i])}) AS m{i}" for i in range(_MH_K))}
        FROM h GROUP BY doc_id
    ),
    bands AS (
        {" UNION ALL ".join(
            f"SELECT doc_id, {b} AS band, concat_ws(',', "
            + ", ".join(f"m{b * _MH_R + r}" for r in range(_MH_R))
            + ") AS bkey FROM sig"
            for b in range(_MH_BANDS)
        )}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    )
"""


def _mh_perm_minima_batches(it):
    """mapInArrow kernel for _mh_sigs: per record batch, compute all
    _MH_K per-document permutation minima vectorized in NumPy int64.

    EXACTNESS: every intermediate fits int64 by the family's own bound
    (a, b < 2^30 ⇒ a*hi + b*lo + c < 2^62 — see the constants comment),
    values and r are < 2^60, and numpy's ^ >> & * + % on int64 are the
    same two's-complement ops the JVM runs, so each minimum is
    bit-identical to the expression version (pytest-pinned twin).

    Heavy init (the constant matrices) is module-level; the function is
    importable (not pickled-by-value), so reused workers keep it."""
    import numpy as np
    import pyarrow as pa

    a = np.array(_MH_A, dtype=np.int64)[:, None]
    b = np.array(_MH_B, dtype=np.int64)[:, None]
    c = np.array(_MH_C, dtype=np.int64)[:, None]
    r = np.array(_MH_R_, dtype=np.int64)[:, None]
    p = np.int64(MERSENNE_61)
    mask = np.int64(_MH_MASK30)
    names = ["doc_id"] + [f"m{i}" for i in range(_MH_K)]
    for batch in it:
        if batch.num_rows == 0:
            continue  # Spark can hand a kernel empty batches
        col = batch.column(1)
        flat = np.asarray(col.flatten(), dtype=np.int64)
        lens = np.asarray(col.value_lengths(), dtype=np.int64)
        # shd is pre-filtered to >= 1 shingle; reduceat needs that
        assert lens.min() >= 1, "_mh_sigs: empty shingle array"
        starts = np.zeros(len(lens), dtype=np.int64)
        np.cumsum(lens[:-1], out=starts[1:])
        m = flat[None, :] ^ r  # (K, n) mixed values
        g = (a * (m >> 30) + b * (m & mask) + c) % p
        mins = np.minimum.reduceat(g, starts, axis=1)  # (K, docs)
        arrays = [batch.column(0)] + [
            pa.array(mins[i], type=pa.int64()) for i in range(_MH_K)
        ]
        yield pa.RecordBatch.from_arrays(arrays, names=names)


def _mh_sigs(shd: DataFrame) -> DataFrame:
    """(doc_id, m0..m{K-1}) MinHash signature table of a shingled
    (doc_id, sh_arr) relation — row-local, ONE definition shared by the
    band builder below and C81's b-bit audit (a drifted copy would
    produce signatures that disagree between consumers).

    Two row-local stages: shingle hashes stay JVM md5 (portability —
    the oracle replays them), then the _MH_K universal-hash minima run
    as ONE Arrow-batched NumPy kernel (guide §4.2): the expression form
    evaluated K interpreted lambda passes per document (~K x |shingles|
    per row — measured 1.1 s of the signature pass at sf0.1 vs 0.16 s
    for the md5s), while the kernel is a handful of vectorized int64
    ops.  Only (doc_id, hs) crosses the Python boundary, no shuffle is
    added, and values are bit-identical (see _mh_perm_minima_batches;
    differential pytest pins it)."""
    hs = shd.select(  # already filtered to >=1 shingle — do NOT re-filter
        "doc_id", F.transform("sh_arr", lambda s: hash64(s)).alias("hs")
    )
    out_schema = ", ".join(
        ["doc_id long"] + [f"m{i} long" for i in range(_MH_K)]
    )
    return hs.mapInArrow(_mh_perm_minima_batches, out_schema)


def _mh_bands(shd: DataFrame) -> DataFrame:
    """(doc_id, band, bkey) LSH band table of a shingled (doc_id, sh_arr)
    relation — the row-local MinHash signature pass shared by C7/C48
    (full in-bucket pair expansion) and C57 (incremental new-vs-all band
    join).  ONE signature definition: a drifted copy would bucket the
    same corpus differently between the full and incremental paths."""
    sig = _mh_sigs(shd)
    return sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            ",", *[f"m{b * _MH_R + r}" for r in range(_MH_R)]
                        ).alias("bkey"),
                    )
                    for b in range(_MH_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.bkey")


def _minhash_candidates(docs: DataFrame, spark: SparkSession) -> DataFrame:
    """LSH candidate pairs (a_id < b_id) of a documents relation: the
    row-local signature pass + band-bucket equi-join shared by C7 (which
    re-verifies them exactly) and C48 (which audits their recall).  The
    candidate set's lineage is the full signature pass — localCheckpoint
    so multiple consumers don't re-shingle the corpus."""
    bands = _mh_bands(_shingled(docs, spark))
    return (
        _bucket_pairs(bands, ["band", "bkey"], ["doc_id"])
        .select(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .distinct()
        .localCheckpoint()
    )


@register(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH ws AS ({_SQL_SH}),
    {_SQL_MH_CAND},
    {_SQL_VERIFY}
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(24) + LSH(6 bands x 4 rows) near-dup pairs, exact re-verify.

    The scale path: signatures are computed **row-local** (array_min over a
    transformed shingle-hash array — no shuffle, scan speed); the only
    exchanges are the band-bucket equi-join (candidate volume tracks true
    duplicate volume: P[band match] = j^4 per band over 6 bands, so a j=0.97
    pair is missed with p ~ (1-0.97^4)^6 < 3e-6 while j<0.1 pairs almost
    never collide) and the exact
    Jaccard re-verify restricted to candidates.  Never O(n²).
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    cand = _minhash_candidates(docs, spark)
    # verify only candidate documents: the broadcast id semi-join reaches
    # the scan, so the verification shingle passes cover ~|candidate| docs,
    # not the corpus — total full-corpus work is the ONE signature pass
    cand_ids = cand.select(
        F.explode(F.array("a_id", "b_id")).alias("doc_id")
    ).distinct()
    cand_docs = spread(docs, spark).join(F.broadcast(cand_ids), "doc_id")
    return _verified_pairs(cand, cand_docs, _TAU)


# ---------------------------------------------------------------------------
# C8. SimHash

_SH_BITS = 60  # hash64 is 60-bit, so the simhash is too
_SH_CHUNKS = 4  # 4 x 15-bit chunks => all pairs with hamming <= 3 are found
_SH_CHUNK_BITS = _SH_BITS // _SH_CHUNKS
_SH_MAXDIST = 3


@register(
    "dedup_simhash",
    oracle=f"""
    WITH ws AS ({_SQL_SH}),
    h AS (SELECT doc_id, {sql_hash64('sh')} AS h FROM ws),
    votes AS (
        SELECT doc_id, b,
               sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
        FROM h CROSS JOIN (SELECT unnest(range({_SH_BITS})) AS b)
        GROUP BY doc_id, b
    ),
    sim AS (
        SELECT doc_id,
               CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS s
        FROM votes GROUP BY doc_id
    ),
    chunks AS (
        SELECT doc_id, c, (s >> (CAST(c AS INT) * {_SH_CHUNK_BITS})) & {(1 << _SH_CHUNK_BITS) - 1} AS ch
        FROM sim CROSS JOIN (SELECT unnest(range({_SH_CHUNKS})) AS c)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM chunks a
        JOIN chunks b ON a.c = b.c AND a.ch = b.ch AND a.doc_id < b.doc_id
    )
    SELECT a_id, b_id, CAST(bit_count(xor(sa.s, sb.s)) AS INT) AS hamming
    FROM cand
    JOIN sim sa ON sa.doc_id = a_id
    JOIN sim sb ON sb.doc_id = b_id
    WHERE bit_count(xor(sa.s, sb.s)) <= {_SH_MAXDIST}
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash near-dup pairs (hamming <= 3) via 15-bit chunk LSH.

    The simhash itself is **row-local**: one aggregate over the shingle-hash
    array with a 60-slot vote-array accumulator, then a weighted bit sum —
    all codegen'd, zero shuffle.  Pigeonhole: a pair within hamming 3 of a
    60-bit code must agree on one of 4 15-bit chunks, so the chunk equi-join
    finds every such pair exactly (no probabilistic miss) while random pairs
    (expected hamming ~30) collide with p ~ 4 * 2^-15.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    powers = F.array(*[F.lit(1 << b).cast("long") for b in range(_SH_BITS)])
    votes = F.aggregate(
        F.col("hs"),
        F.array_repeat(F.lit(0), _SH_BITS),
        lambda acc, h: F.zip_with(
            acc, powers, lambda a, p: a + F.when(h.bitwiseAND(p) > 0, 1).otherwise(-1)
        ),
    )
    simhash = F.aggregate(
        F.zip_with(
            votes, powers, lambda v, p: F.when(v > 0, p).otherwise(F.lit(0).cast("long"))
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    sim = (
        _shingled(docs, spark)  # already filtered to >=1 shingle — do NOT re-filter
        .select("doc_id", F.transform("sh_arr", lambda s: hash64(s)).alias("hs"))
        .select("doc_id", simhash.alias("s"))
    )
    chunks = sim.select(
        "doc_id",
        "s",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("c"),
                        F.shiftright(F.col("s"), c * _SH_CHUNK_BITS)
                        .bitwiseAND(F.lit((1 << _SH_CHUNK_BITS) - 1))
                        .alias("ch"),
                    )
                    for c in range(_SH_CHUNKS)
                ]
            )
        ).alias("ck"),
    ).select("doc_id", "s", "ck.c", "ck.ch")
    # the simhash rides into the buckets, so hamming evaluates inline —
    # no join back to the (expensive) signature relation
    hamming = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    return (
        _bucket_pairs(chunks, ["c", "ch"], ["doc_id", "s"])
        .select(
            F.col("a.doc_id").alias("a_id"),
            F.col("b.doc_id").alias("b_id"),
            F.col("a.s").alias("sa"),
            F.col("b.s").alias("sb"),
        )
        .distinct()
        .where(hamming <= _SH_MAXDIST)
        .select("a_id", "b_id", hamming.cast("int").alias("hamming"))
    )


# ---------------------------------------------------------------------------
# C18. dedup_clusters (near-dup pairs -> connected components)

from mapreduceimplementation_spark.registry import ORACLES as _ORACLES

_CC_MAX_ITERS = 20


@register(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_ORACLES["dedup_minhash_lsh"]}),
    edges AS (
        SELECT a_id AS s, b_id AS d FROM pairs
        UNION ALL
        SELECT b_id, a_id FROM pairs
    ),
    reach(node, r) AS (
        SELECT DISTINCT s, s FROM edges
        UNION
        SELECT e.d, reach.r FROM reach JOIN edges e ON e.s = reach.node
    ),
    comp AS (SELECT node, min(r) AS cluster_id FROM reach GROUP BY node)
    SELECT doc_id,
           coalesce(comp.cluster_id, doc_id) AS cluster_id,
           CAST(count(*) OVER (PARTITION BY coalesce(comp.cluster_id, doc_id))
                AS BIGINT) AS cluster_size,
           doc_id = coalesce(comp.cluster_id, doc_id) AS is_canonical
    FROM documents LEFT JOIN comp ON comp.node = doc_id
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: the minhash pairs (C7) closed into connected
    components, each document stamped with its cluster id (= the smallest
    doc_id in its component), cluster size, and a canonical-survivor flag
    — the final step of a real dedup pipeline (keep one doc per cluster,
    not one per pair).

    Iterative min-label propagation WITH pointer doubling: labels live
    ONLY on the paired nodes (duplicates are sparse — singletons join
    back at the end with themselves as cluster).  Each round does (1) an
    edge-propagation min step and (2) a shortcut step (label ← label of
    label), so label distances HALVE per round and rounds needed =
    log2(component diameter), not diameter — chains up to 2^20 hops
    (the _CC_MAX_ITERS cap) converge instead of silently splitting.  If
    the cap is ever exhausted without the label sum reaching a fixed
    point the operator RAISES rather than emit wrong clusters.  Pairs and
    per-round labels are localCheckpoint'ed: the expensive minhash
    lineage runs ONCE, and iteration lineage cannot snowball — the same
    discipline a 1000-executor CC job needs.  Oracle: DuckDB recursive
    CTE computes the exact transitive closure independently.
    """
    pairs = dedup_minhash_lsh(spark, sf_dir).localCheckpoint(eager=True)
    edges = pairs.selectExpr("a_id AS s", "b_id AS d").unionAll(
        pairs.selectExpr("b_id AS s", "a_id AS d")
    )
    labels = (
        edges.select(F.col("s").alias("node")).distinct()
        .select("node", F.col("node").alias("label"))
        .localCheckpoint(eager=True)
    )
    prev_sum = labels.agg(F.sum("label")).collect()[0][0]
    converged = prev_sum is None  # no pairs at all -> nothing to propagate
    for _ in range(_CC_MAX_ITERS):
        if converged:
            break
        prop = edges.join(labels, edges["s"] == labels["node"]).select(
            F.col("d").alias("node"), "label"
        )
        stepped = (
            labels.unionAll(prop)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )
        # pointer doubling: adopt the label of your current label-node
        # (the label node always exists: labels only hold node ids)
        lk = stepped.select(
            F.col("node").alias("lnode"), F.col("label").alias("llabel")
        )
        labels = (
            stepped.join(lk, stepped["label"] == lk["lnode"])
            .select("node", F.least("label", "llabel").alias("label"))
            .localCheckpoint(eager=True)
        )
        cur_sum = labels.agg(F.sum("label")).collect()[0][0]
        if cur_sum == prev_sum:  # min-labels only decrease; equal sum = fixed point
            converged = True
        prev_sum = cur_sum
    if not converged:
        raise RuntimeError(
            f"dedup_clusters: not converged after {_CC_MAX_ITERS} rounds "
            "(component diameter > 2^iters?) — refusing to emit split clusters"
        )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    stamped = docs.join(
        labels.withColumnRenamed("node", "doc_id"), "doc_id", "left"
    ).select(
        "doc_id", F.coalesce("label", "doc_id").alias("cluster_id")
    )
    wc = Window.partitionBy("cluster_id")
    return stamped.select(
        "doc_id",
        "cluster_id",
        F.count(F.lit(1)).over(wc).alias("cluster_size"),
        (F.col("doc_id") == F.col("cluster_id")).alias("is_canonical"),
    )


# ---------------------------------------------------------------------------
# C35. shingle containment (subset-duplicate detection)

_CONTAIN_TAU = 0.9  # containment threshold: |A∩B| / min(|A|,|B|)


@register(
    "dedup_containment",
    tags=(BASELINE_CLASS,),
    oracle=f"""
    WITH ws AS ({_SQL_SH}),
    common AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_common
        FROM ws a JOIN ws b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    sz AS (SELECT doc_id, count(*) AS n FROM ws GROUP BY doc_id)
    SELECT a_id, b_id,
           {sql_round6('n_common * 1.0 / LEAST(sa.n, sb.n)')} AS containment,
           {sql_round6('n_common * 1.0 / (sa.n + sb.n - n_common)')} AS jaccard
    FROM common
    JOIN sz sa ON sa.doc_id = a_id
    JOIN sz sb ON sb.doc_id = b_id
    WHERE n_common * 1.0 / LEAST(sa.n, sb.n) >= {_CONTAIN_TAU}
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle CONTAINMENT pairs: |A∩B| / min(|A|, |B|) >= 0.9 — the
    subset-duplicate detector (Broder's containment measure, the case
    resemblance/Jaccard systematically misses).

    A short document embedded verbatim inside a much longer one scores
    jaccard = |A|/|B| → 0 as B grows, but containment stays 1.0 — this
    is the boilerplate-inclusion / quote-expansion / page-wrapping dup
    class an LLM-corpus dedup pass needs beside C6/C7.  Emits both
    measures so the divergence is visible per pair.

    Scale shape: identical machinery to C6 — pair overlap counts come
    straight from the shingle posting lists via in-bucket pair expansion
    (one shuffle on the shingle key, never a doc×doc self-join); cost is
    bounded by per-shingle document frequency, not corpus².  At 100 TB,
    cap posting-list length (drop shingles with df > K as non-discrim-
    inative — they only ever ADD candidate pairs below any containment
    floor for bounded doc sizes) exactly as the C6 docstring prescribes;
    the exact measure then verifies only candidate pairs."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return containment_pairs(docs, spark)


def containment_pairs(
    docs: DataFrame, spark: SparkSession | None = None, tau: float = _CONTAIN_TAU
) -> DataFrame:
    """(a_id, b_id, containment, jaccard) pairs with containment >= tau
    over any (doc_id, text) relation — the API behind C35.  Shares C6's
    pair machinery (_pair_overlap_sizes): one checkpointed shingle pass
    feeds both the overlap counts and the set sizes."""
    common, sz = _pair_overlap_sizes(docs, spark)
    cont = F.col("n_common") / F.least(F.col("na"), F.col("nb"))
    j = F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return (
        _with_pair_sizes(common, sz)
        .where(cont >= tau)
        .select(
            "a_id",
            "b_id",
            round6(cont).alias("containment"),
            round6(j).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# C40. dedup_paragraphs — MassiveText-style duplicate-paragraph removal

_PARA_WORDS = 20  # paragraph = 20-word chunk (the corpus has no newlines)
_PARA_KEYBASE = 1 << 20  # survivor key = doc_id * 2^20 + pid (pid < 2^20)


@register(
    "dedup_paragraphs",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               generate_subscripts(str_split(text, ' '), 1) AS pos,
               unnest(str_split(text, ' ')) AS w
        FROM documents
    ),
    paras AS (
        SELECT doc_id, CAST((pos - 1) // {_PARA_WORDS} AS BIGINT) AS pid,
               string_agg(w, ' ' ORDER BY pos) AS chunk
        FROM toks GROUP BY doc_id, (pos - 1) // {_PARA_WORDS}
    ),
    keyed AS (
        SELECT doc_id, pid, chunk,
               (doc_id * {_PARA_KEYBASE} + pid) =
                   min(doc_id * {_PARA_KEYBASE} + pid)
                       OVER (PARTITION BY md5(chunk)) AS kept
        FROM paras
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_paragraphs,
           CAST(SUM(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
           COALESCE(string_agg(CASE WHEN kept THEN chunk END, ' '
                               ORDER BY pid), '') AS cleaned_text
    FROM keyed GROUP BY doc_id
    """,
)
def dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level exact dedup with document reassembly — the
    MassiveText rule (Rae et al. 2021 §A1.2: remove duplicate paragraphs
    ACROSS documents, keep the first occurrence, reassemble each doc from
    its surviving paragraphs in original order).  Whole-doc dedup (C1)
    misses boilerplate repeated INSIDE otherwise-unique pages — exactly
    what this catches.  The corpus has no newline structure, so a
    paragraph is a fixed {_PARA_WORDS}-word chunk; the survivor is the
    globally first (doc_id, pid) per chunk hash.

    Scale shape: chunking is row-local (split + slice per chunk index —
    the text column is read once and never shuffled whole... the chunks
    are, which IS the shuffle: ONE exchange on the uniform md5(chunk)
    key, C1's discipline at paragraph grain); the survivor window needs
    no second pass (min over the hash partition); reassembly is the
    second exchange, back on doc_id, aggregating (pid, chunk) structs in
    document order.  Survivor key packs (doc_id, pid) into one long —
    exact while pid < 2^20 (a 20M-word doc), the knn_triangles packing
    discipline.  Reassembly identity (nothing dropped ⇒ cleaned_text ==
    text) is pytest-pinned."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    paras = docs.select(
        "doc_id",
        F.explode(word_chunks(F.split(F.col("text"), " "), _PARA_WORDS)).alias(
            "p"
        ),
    ).select("doc_id", F.col("p.pid").alias("pid"), F.col("p.chunk").alias("chunk"))
    # the packed survivor key is exact only while pid < 2^20 and doc_id
    # stays under 2^43 — fail LOUDLY on wider inputs instead of silently
    # electing the wrong survivor (the knn_triangles guard discipline)
    key_ok = (
        (F.col("pid") >= 0)
        & (F.col("pid") < F.lit(_PARA_KEYBASE))
        & (F.col("doc_id") >= 0)
        & (F.col("doc_id") < F.lit((1 << 63) // _PARA_KEYBASE))
    )
    paras = paras.where(
        F.assert_true(
            key_ok,
            F.concat(
                F.lit("dedup_paragraphs: (doc_id, pid) outside packed-key "
                      "range: "),
                F.col("doc_id").cast("string"),
                F.lit(","),
                F.col("pid").cast("string"),
            ),
        ).isNull()
    )
    skey = F.col("doc_id") * _PARA_KEYBASE + F.col("pid")
    kept = paras.withColumn(
        "kept",
        skey == F.min(skey).over(Window.partitionBy(F.md5(F.col("chunk")))),
    )
    return kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_paragraphs"),
        F.sum(F.when(F.col("kept"), 0).otherwise(1)).alias("n_dropped"),
        F.coalesce(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("kept"),
                                F.struct("pid", "chunk"),
                            )
                        )
                    ),
                    lambda s: s["chunk"],
                ),
                " ",
            ),
            F.lit(""),
        ).alias("cleaned_text"),
    )


# ---------------------------------------------------------------------------
# C45. boilerplate_source_matrix — which source pairs share boilerplate

_BSM_WORDS = 20  # C40's _PARA_WORDS: the SAME chunks, by construction


@register(
    "boilerplate_source_matrix",
    oracle=f"""
    WITH ws AS (
        SELECT source, str_split(text, ' ') AS w
        FROM documents WHERE text IS NOT NULL
    ),
    chunks AS (
        SELECT DISTINCT source,
               md5(array_to_string(
                   w[i * {_BSM_WORDS} + 1 : i * {_BSM_WORDS} + {_BSM_WORDS}],
                   ' ')) AS h
        FROM ws, UNNEST(range(0, (len(w) + {_BSM_WORDS} - 1)
                                 // {_BSM_WORDS})) t(i)
        WHERE len(w) > 0
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(count(*) AS BIGINT) AS n_shared_chunks
    FROM chunks a JOIN chunks b ON a.h = b.h AND a.source < b.source
    GROUP BY 1, 2
    """,
)
def boilerplate_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: for every pair of corpus
    sources, how many distinct {_BSM_WORDS}-word paragraph chunks appear
    in BOTH — the provenance audit run before mixing scraped sources
    (shared boilerplate inflates effective duplication between sources
    that whole-doc stats call disjoint).  The chunks are BY CONSTRUCTION
    the same as C40's (same raw space tokenization via the shared
    word_chunks helper, same width, same grid), so the matrix names
    exactly WHERE dedup_paragraphs' duplicates come from.

    Scale shape: chunking is the shared row-local word_chunks slice; the
    distinct (source, chunk-hash) relation collapses in ONE exchange on
    the uniform hash key; the pair expansion happens INSIDE each hash
    bucket from the sorted source set (collect_set is bounded by the
    number of sources, ~dozens — never by corpus size), so no self-join
    and no second fact-sized shuffle; the final rollup exchanges pair
    keys (≤ sources² rows).  The oracle states the literal self-join —
    the green hash certifies the in-bucket rewrite."""
    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    cs = (
        docs.where(F.col("text").isNotNull())
        .select(
            "source",
            F.explode(
                word_chunks(F.split(F.col("text"), " "), _BSM_WORDS)
            ).alias("p"),
        )
        .select("source", F.md5(F.col("p.chunk")).alias("h"))
        .distinct()
    )
    ss = F.col("ss")
    pair_arr = F.flatten(
        F.transform(
            F.sequence(F.lit(0), F.size(ss) - 2),
            lambda i: F.transform(
                F.sequence(i + 1, F.size(ss) - 1),
                lambda j: F.struct(
                    F.element_at(ss, i + 1).alias("source_a"),
                    F.element_at(ss, j + 1).alias("source_b"),
                ),
            ),
        )
    )
    return (
        cs.groupBy("h")
        .agg(F.array_sort(F.collect_set("source")).alias("ss"))
        .where(F.size("ss") > 1)
        .select(F.explode(pair_arr).alias("p"))
        .groupBy(F.col("p.source_a").alias("source_a"),
                 F.col("p.source_b").alias("source_b"))
        .agg(F.count(F.lit(1)).alias("n_shared_chunks"))
    )


# ---------------------------------------------------------------------------
# C48. minhash_recall_audit — measure what the banding misses

_RA_MIN_BAND = 5  # audit pairs with exact jaccard >= 0.5


@register(
    "minhash_recall_audit",
    tags=(BASELINE_CLASS,),
    oracle=f"""
    WITH ws AS ({_SQL_SH}),
    {_SQL_MH_CAND},
    xc AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_common
        FROM ws a JOIN ws b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    sz AS (SELECT doc_id, count(*) AS n FROM ws GROUP BY doc_id),
    ex AS (
        SELECT a_id, b_id,
               LEAST(9, (10 * n_common) // (sa.n + sb.n - n_common)) AS band
        FROM xc
        JOIN sz sa ON sa.doc_id = a_id
        JOIN sz sb ON sb.doc_id = b_id
        WHERE (10 * n_common) // (sa.n + sb.n - n_common) >= {_RA_MIN_BAND}
    )
    SELECT CAST(band AS BIGINT) AS band,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN c.a_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_caught,
           {sql_round6('''SUM(CASE WHEN c.a_id IS NOT NULL THEN 1 ELSE 0 END) * 1.0
                 / count(*)''')} AS recall
    FROM ex LEFT JOIN cand c ON c.a_id = ex.a_id AND c.b_id = ex.b_id
    GROUP BY band
    """,
)
def minhash_recall_audit(
    spark: SparkSession, sf_dir: str, sample_mod: int | None = None
) -> DataFrame:
    """Recall audit of C7's LSH banding against the exact Jaccard ground
    truth: for every pair with exact similarity >= 0.5, did the band
    buckets surface it as a candidate?  Emits per similarity band
    (band b = pairs with j in [b/10, (b+1)/10), j = 1 folded into 9) the
    pair count, catch count, and observed recall — the self-audit a
    production dedup pipeline runs on a sample before trusting (b, r) at
    full scale (theory: P[catch] = 1-(1-j^{_MH_R})^{_MH_BANDS}, so
    recall should fall off exactly below the ~0.8 S-curve knee).

    Band assignment is integer-exact ((10·n_common) div union-size —
    truncating div, identical in Spark `div` and DuckDB `//`), so
    frontier pairs cannot band differently between engines.

    Scale shape: the ground-truth side is the C6 posting-list expansion
    (quadratic in shingle df — this is a BASELINE-CLASS diagnostic, run
    on a sample at 100 TB, exactly like C6 itself); the candidate side
    is C7's row-local signature pass + band equi-join, shared code via
    _minhash_candidates; the final rollup is 5 bands.

    ``sample_mod=k`` keeps the deterministic 1/k doc_id-hash slice (C6's
    mechanical BASELINE_CLASS escape, same salt) — the production shape
    of this audit: recall statistics only need the sampled truth, and
    both the truth pairs and the banding candidates restrict cleanly to
    the slice (signatures and pair overlaps are pair-local, so the
    sampled audit equals the full audit restricted to sampled pairs —
    pytest-pinned)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    if sample_mod:
        docs = docs.where(
            hash64(F.col("doc_id").cast("string"), salt="bsample-")
            % sample_mod
            == 0
        )
    common, sz = _pair_overlap_sizes(docs, spark)
    band = F.least(
        F.lit(9).cast("long"),
        F.expr("(10 * n_common) div (na + nb - n_common)"),
    )
    ex = (
        _with_pair_sizes(common, sz)
        .select("a_id", "b_id", band.alias("band"))
        .where(F.col("band") >= _RA_MIN_BAND)
    )
    cand = _minhash_candidates(docs, spark).withColumn(
        "caught", F.lit(True)
    )
    return (
        ex.join(cand, ["a_id", "b_id"], "left")
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.when(F.col("caught"), 1).otherwise(0)).alias("n_caught"),
            round6(
                F.sum(F.when(F.col("caught"), 1).otherwise(0))
                / F.count(F.lit(1))
            ).alias("recall"),
        )
    )


# ---------------------------------------------------------------------------
# C52. dedup_prefix_filter (AllPairs prefix filtering — exact pairs, sharp
# candidate bound)


@register(
    "dedup_prefix_filter",
    oracle=f"""
    WITH ws AS ({_SQL_SH}),
    cand AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM ws a JOIN ws b ON a.sh = b.sh AND a.doc_id < b.doc_id
    ),
    {_SQL_VERIFY}
    """,
)
def dedup_prefix_filter(
    spark: SparkSession, sf_dir: str, sample_mod: int | None = None
) -> DataFrame:
    """Exact word-3gram Jaccard pairs (j >= {_TAU}) via AllPairs PREFIX
    FILTERING (Bayardo et al., WWW'07) — the third candidate-generation
    strategy in the dedup family, and the sharpest EXACT one: C6 expands
    every posting list (complete but quadratic in shingle df), C7's LSH
    is subquadratic but probabilistic; prefix filtering is complete AND
    subquadratic on real corpora.

    The bound: order every doc's shingle set by a canonical global rank
    (document frequency ascending, rarest first — ties broken by the
    shingle itself).  If jaccard(a, b) >= t, then a and b MUST share a
    shingle within each one's first n - ceil(t*n) + 1 shingles of that
    order: if all common shingles sat past the prefix, the overlap could
    be at most min(na, nb) - prefix_len < t-threshold overlap.  So pairs
    sharing only non-prefix shingles are provably below threshold and
    are never generated.  Rarest-first ordering makes prefix postings
    the LOW-df shingles — candidate buckets stay small exactly where
    full expansion explodes (stopword-like shingles land in nobody's
    prefix).

    THE ORACLE IS THE NAIVE ALGORITHM: it states C6's full posting-list
    expansion verbatim, so the green full-value hash is a proof that
    prefix filtering generated every qualifying pair (completeness is a
    theorem; the gate checks the implementation).  A pytest additionally
    measures the candidate-volume reduction vs full expansion.

    Scale shape: df = a COUNT window over the shingle key (C44's trick,
    no df-table join), then ONE per-doc window pass yields both the df
    rank and the set size — two exchanges of the shingle relation total
    before the bucket join; candidates = C6's in-bucket expansion but
    over ~(1-t)|d|+1 postings per doc instead of all |d| — at t={_TAU}
    that is 5x fewer postings and ~10x fewer pairs measured at sf0.1
    (118k vs 1.13M; the gap WIDENS with df skew, which is where full
    expansion dies); verification reuses the ONE checkpointed shingle
    relation (no second scan).  At test scale the ordering overhead
    roughly offsets the expansion savings — the bound is bought for the
    corpus where pair volume, not window sorting, is the bottleneck.

    OUTPUT is ∝ duplicate mass² by construction (every qualifying pair
    is emitted — that's the job), so replica-inflation stress measures
    the output law, not a plan defect.  ``sample_mod=k`` keeps the C6
    deterministic 1/k doc_id-hash slice — the diagnostic-on-a-sample
    production shape; sampled pairs = full pairs restricted to sampled
    docs (prefix membership is df-rank-relative but pair qualification
    is pair-local and the oracle-verified completeness theorem holds on
    any corpus, pytest-pinned)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    if sample_mod:
        docs = docs.where(
            hash64(F.col("doc_id").cast("string"), salt="bsample-")
            % sample_mod
            == 0
        )
    sh = _shingles(docs, spark).localCheckpoint()
    # df via a COUNT window over the shingle key (C44's trick — no
    # df-table join), then ONE per-doc window pass computes both the df
    # rank and the set size (same ordered spec, one exchange)
    withdf = sh.select(
        "doc_id",
        "sh",
        F.count(F.lit(1)).over(Window.partitionBy("sh")).alias("df"),
    )
    wdoc = Window.partitionBy("doc_id").orderBy("df", "sh")
    ranked = withdf.select(
        "doc_id",
        "sh",
        F.row_number().over(wdoc).alias("pos"),
        F.count(F.lit(1))
        .over(
            wdoc.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .alias("n"),
    )
    # prefix_len = n - ceil(tau * n) + 1, integer-exact for tau = 4/5
    prefix = ranked.where(
        F.col("pos") <= F.col("n") - F.expr("(4 * n + 4) div 5") + 1
    ).select("doc_id", "sh")
    cand = (
        _bucket_pairs(prefix, ["sh"], ["doc_id"])
        .select(
            F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id")
        )
        .distinct()
    )
    return _verified_pairs(cand, docs, _TAU, spark, sh=sh)


# ---------------------------------------------------------------------------
# C55. dedup_substring_spans — maximal duplicated-token spans (Lee et al.)

_SPAN_K = 10  # word k-gram grain for span detection


def _span_gram_sql(k: int) -> str:
    return " || ' ' || ".join(f"ws[i+{j}]" for j in range(k))


@register(
    "dedup_substring_spans",
    oracle=f"""
    WITH pos AS (
        SELECT doc_id, len(ws) AS n_tokens, i AS pos, {_span_gram_sql(_SPAN_K)} AS sh
        FROM (SELECT doc_id,
                     list_filter(regexp_split_to_array(text, '[^A-Za-z]+'),
                                 x -> x <> '') AS ws
              FROM documents WHERE text IS NOT NULL),
             UNNEST(range(1, len(ws) - {_SPAN_K - 2})) AS t(i)
    ),
    dup AS (
        SELECT doc_id, n_tokens, pos
        FROM (SELECT doc_id, n_tokens, pos,
                     min(doc_id) OVER (PARTITION BY sh)
                         <> max(doc_id) OVER (PARTITION BY sh) AS is_dup
              FROM pos)
        WHERE is_dup
    ),
    isl AS (
        SELECT doc_id, n_tokens, pos,
               SUM(CASE WHEN prev IS NULL OR pos - prev > {_SPAN_K}
                        THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY pos) AS island
        FROM (SELECT doc_id, n_tokens, pos,
                     lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
              FROM dup)
    ),
    spans AS (
        SELECT doc_id, n_tokens, island,
               max(pos) - min(pos) + {_SPAN_K} AS span_tokens
        FROM isl GROUP BY doc_id, n_tokens, island
    )
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS dup_spans,
           CAST(sum(span_tokens) AS BIGINT) AS dup_tokens,
           CAST(sum(span_tokens) * 1000000 // n_tokens AS BIGINT) AS dup_ppm
    FROM spans GROUP BY doc_id, n_tokens
    """,
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal duplicated-substring spans per document at word grain —
    the "Deduplicating Training Data Makes Language Models Better"
    (Lee et al., ACL'22) ExactSubstr signal: a position is duplicated
    when its {_SPAN_K}-word gram also occurs in at least one OTHER
    document, and overlapping/adjacent duplicated positions merge into
    maximal spans (gaps-and-islands), yielding per doc the span count,
    the duplicated-token total, and a ppm fraction — the numbers a
    cut-list is built from.  C44 counts duplicated shingles; this
    operator merges them into the contiguous spans you would actually
    cut.  (The paper runs a suffix array at 50-BPE-token grain; the
    k-gram-match + interval-merge formulation is the shuffle-native
    equivalent — every span >= k tokens is found exactly, shorter ones
    are below the grain by construction.)

    Scale shape: gram build is row-local (ngrams_of_words inside
    codegen); cross-doc occurrence is min!=max over ONE window exchange
    keyed on xxhash64(gram) — 8-byte shuffle keys instead of ~80-byte
    10-word strings, and counts-not-lists so stopword-like grams cannot
    skew-blow; the oracle states the string key, the green hash
    certifies the hashed rewrite.  Island-merge is the SECOND and last
    exchange (doc_id window), and both rollups reuse that partitioning
    (grouping keys are supersets of doc_id - no further shuffle).  The
    ppm is exact integer math (div), no float tie-break hazard.  At
    corpus scale the window key widens to a 128-bit hash (xxhash64
    collisions ~n^2/2^64 start to matter past ~10^9 distinct grams).

    Reference anchor: the gram->docs inversion is indexer.go:1-38's
    map shape (src/mrapps/indexer.go), with positions carried through.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = spread(
        docs.where(F.col("text").isNotNull()).select(
            "doc_id", word_array("text").alias("ws")
        ),
        spark,
    )
    pos = base.select(
        "doc_id",
        F.size("ws").alias("n_tokens"),
        F.posexplode(ngrams_of_words("ws", _SPAN_K)).alias("pos", "sh"),
    ).select("doc_id", "n_tokens", "pos", F.xxhash64("sh").alias("shh"))
    w_sh = Window.partitionBy("shh")
    dup = pos.select(
        "doc_id",
        "n_tokens",
        "pos",
        (F.min("doc_id").over(w_sh) != F.max("doc_id").over(w_sh)).alias(
            "is_dup"
        ),
    ).where("is_dup")
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    isl = dup.select(
        "doc_id",
        "n_tokens",
        "pos",
        F.lag("pos").over(w_doc).alias("prev"),
    ).select(
        "doc_id",
        "n_tokens",
        "pos",
        F.sum(
            F.when(
                F.col("prev").isNull()
                | (F.col("pos") - F.col("prev") > _SPAN_K),
                1,
            ).otherwise(0)
        )
        .over(w_doc)
        .alias("island"),
    )
    spans = isl.groupBy("doc_id", "n_tokens", "island").agg(
        (F.max("pos") - F.min("pos") + _SPAN_K).alias("span_tokens")
    )
    return (
        spans.groupBy("doc_id", "n_tokens")
        .agg(
            F.count(F.lit(1)).cast("long").alias("dup_spans"),
            F.sum("span_tokens").cast("long").alias("dup_tokens"),
        )
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            "dup_spans",
            "dup_tokens",
            F.expr("dup_tokens * 1000000 div n_tokens")
            .cast("long")
            .alias("dup_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# C57. dedup_incremental — today's batch vs the index, without recompute

_INCR_EVERY = 5  # 1 in 5 docs form "today's batch" (deterministic split)


def _incr_new_sql(col: str) -> str:
    h = sql_hash64(f"'incr-' || CAST({col} AS VARCHAR)")
    return f"{h} % {_INCR_EVERY} = 0"


@register(
    "dedup_incremental",
    oracle=f"""
    SELECT a_id, b_id, jaccard,
           {_incr_new_sql('a_id')} AS a_new,
           {_incr_new_sql('b_id')} AS b_new
    FROM (
        WITH ws AS ({_SQL_SH}),
        {_SQL_MH_CAND},
        {_SQL_VERIFY}
    ) v
    WHERE {_incr_new_sql('a_id')} OR {_incr_new_sql('b_id')}
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash-LSH dedup: near-dup pairs involving "today's
    batch" (a deterministic 1-in-{_INCR_EVERY} hash split of doc_ids),
    found WITHOUT re-pairing the historical corpus — the production
    pattern for a crawl pipeline that ingests daily increments against a
    100 TB index: store the band table, broadcast today's (much smaller)
    band rows into an equi-join against it, and exact-verify only the
    candidates that involve a new document.  Candidate volume scales
    with batch size x bucket hit rate, never with index-pair volume;
    new-vs-new pairs within the batch are found by the same join.

    The oracle states the SPEC — the full-corpus recompute (C7's exact
    fragments) filtered to new-involving pairs — so the green hash
    proves the incremental join finds exactly the pairs the full rerun
    would, and the equality pytest pins it against C7's registered
    output.  Signatures come from the SAME _mh_bands fragment as C7
    (one sketch definition; a drifted copy would bucket the same corpus
    differently between the full and incremental paths).

    Scale shape: band table built row-local off the one checkpointed
    shingle relation (in production it is a STORED table partitioned by
    (band, bkey) — this query is the backfill that creates it); today's
    bands are broadcast (batch-sized); verification joins only the
    candidates' shingle sets (C7's _verified_pairs, candidate-
    restricted).  The corpus text is scanned once."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    shd = _shingled(docs, spark).localCheckpoint()
    bands = _mh_bands(shd).localCheckpoint()
    new_flag = (
        lambda c: hash64(F.concat(F.lit("incr-"), c.cast("string")))
        % _INCR_EVERY
        == 0
    )
    newb = bands.where(new_flag(F.col("doc_id"))).select(
        F.col("doc_id").alias("n_id"), "band", "bkey"
    )
    cand = (
        F.broadcast(newb)
        .join(bands, ["band", "bkey"])
        .where(F.col("doc_id") != F.col("n_id"))
        .select(
            F.least("n_id", "doc_id").alias("a_id"),
            F.greatest("n_id", "doc_id").alias("b_id"),
        )
        .distinct()
        .localCheckpoint()
    )
    sh = shd.select("doc_id", F.explode_outer("sh_arr").alias("sh"))
    return _verified_pairs(cand, docs, _TAU, spark, sh=sh).select(
        "a_id",
        "b_id",
        "jaccard",
        new_flag(F.col("a_id")).alias("a_new"),
        new_flag(F.col("b_id")).alias("b_new"),
    )


# ---------------------------------------------------------------------------
# C76. dedup_priority — canonical-key dedup with a curated source-priority
# survivor rule (the cross-source "keep the trusted copy" pass)

#: canonical key = first _PRIO_PREFIX_W lowercase words.  A production
#: pipeline keys this pass on a canonical URL or title line; this corpus
#: carries neither, so the leading-words prefix plays that role (same
#: trade-off as C27's shingle width: pick the cheapest key that actually
#: collides on this corpus's duplication pattern).
_PRIO_PREFIX_W = 6

#: DuckDB twin of the canonical key below (kept adjacent so the two
#: expressions are reviewed as one unit).
_SQL_PRIO_KEY = (
    "md5(array_to_string(list_filter(regexp_split_to_array(lower(text),"
    " '[^a-z]+'), x -> x <> '')[1:%d], ' '))" % _PRIO_PREFIX_W
)


@register(
    "dedup_priority",
    oracle=f"""
    WITH keyed AS (
        SELECT doc_id, source, n_chars,
               CAST(substr(source, 4) AS INTEGER) AS src_rank,
               {_SQL_PRIO_KEY} AS canon_key
        FROM documents WHERE text IS NOT NULL
    )
    SELECT doc_id, source, canon_key,
           count(*) OVER w AS group_size,
           first_value(doc_id) OVER (
               PARTITION BY canon_key
               ORDER BY src_rank, n_chars DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS survivor_id,
           first_value(source) OVER (
               PARTITION BY canon_key
               ORDER BY src_rank, n_chars DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS survivor_source,
           doc_id = first_value(doc_id) OVER (
               PARTITION BY canon_key
               ORDER BY src_rank, n_chars DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS kept
    FROM keyed
    WINDOW w AS (PARTITION BY canon_key)
    """,
)
def dedup_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source priority dedup: when the same canonical key appears in
    several sources, keep the copy from the MOST TRUSTED source — the
    survivor rule Dolma/RefinedWeb-style multi-source mixes actually run
    (wiki beats books beats crawl), which C1's min-doc_id survivor cannot
    express.  Priority here is the source's curated list position (the
    numeric suffix of ``srcN`` stands in for the config file a production
    pipeline ships); ties prefer the LONGER copy (more complete
    extraction), then the smaller doc_id.

    Emits every doc with its group's survivor, so downstream either
    filters ``kept`` (the dedup) or joins ``survivor_id`` (the redirect
    map — what a dedup pass must publish so citation/attribution joins
    still resolve dropped doc_ids).

    Scale shape: canonical key is a row-local md5 over the first
    {_PRIO_PREFIX_W} words — text itself is never shuffled, only (doc_id,
    source, n_chars, 128-bit key).  ONE exchange on the uniform hash key;
    both window frames share it (same partition spec), so the plan has a
    single shuffle and the survivor election is a per-group sort of
    group_size rows (bounded by the duplication multiplicity, not the
    corpus).  At 100 TB this is C1's exact shape plus a 4-byte rank
    column."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars", "text"
    )
    keyed = docs.where(F.col("text").isNotNull()).select(
        "doc_id",
        "source",
        "n_chars",
        F.substring("source", 4, 8).cast("int").alias("src_rank"),
        F.md5(
            F.array_join(
                F.slice(word_array(F.lower(F.col("text"))), 1, _PRIO_PREFIX_W),
                " ",
            )
        ).alias("canon_key"),
    )
    grp = Window.partitionBy("canon_key")
    elect = grp.orderBy(
        F.col("src_rank").asc(), F.col("n_chars").desc(), F.col("doc_id").asc()
    ).rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    survivor = F.first("doc_id").over(elect)
    return keyed.select(
        "doc_id",
        "source",
        "canon_key",
        F.count(F.lit(1)).over(grp).alias("group_size"),
        survivor.alias("survivor_id"),
        F.first("source").over(elect).alias("survivor_source"),
        (F.col("doc_id") == survivor).alias("kept"),
    )


# ---------------------------------------------------------------------------
# C81. minhash_bbit_audit — b-bit minwise hashing accuracy audit
# (Li & Koenig, WWW 2010: store only the lowest b bits of each minimum)

#: bits kept per permutation.  b=2 cuts signature storage 30x (2 bits vs
#: a 61-bit minimum) at the cost of 1-in-2^b accidental agreements; the
#: audit below measures what that costs in estimation error on real
#: candidate pairs.
_BBIT_B = 2
_BBIT_MASK = (1 << _BBIT_B) - 1
#: accidental-agreement probability for b bits (the Li-Koenig C term,
#: large-universe form) — the estimator debiases with it
_BBIT_C = 1.0 / (1 << _BBIT_B)


@register(
    "minhash_bbit_audit",
    oracle=f"""
    WITH ws AS ({sql_word_ngrams(_SHINGLE_N)}),
    {_SQL_MH_CAND},
    sized AS (SELECT doc_id, count(*) AS n FROM ws GROUP BY 1),
    inter AS (
        SELECT c.a_id, c.b_id, count(*) AS i
        FROM cand c
        JOIN ws wa ON wa.doc_id = c.a_id
        JOIN ws wb ON wb.doc_id = c.b_id AND wb.sh = wa.sh
        GROUP BY 1, 2
    ),
    agree AS (
        SELECT c.a_id, c.b_id,
               {" + ".join(f"CASE WHEN sa.m{i} = sb.m{i} THEN 1 ELSE 0 END" for i in range(_MH_K))} AS full_m,
               {" + ".join(f"CASE WHEN (sa.m{i} & {_BBIT_MASK}) = (sb.m{i} & {_BBIT_MASK}) THEN 1 ELSE 0 END" for i in range(_MH_K))} AS bbit_m
        FROM cand c
        JOIN sig sa ON sa.doc_id = c.a_id
        JOIN sig sb ON sb.doc_id = c.b_id
    )
    SELECT a.a_id, a.b_id,
           {sql_round6(f"CAST(coalesce(i.i, 0) AS DOUBLE) / CAST(na.n + nb.n - coalesce(i.i, 0) AS DOUBLE)")} AS j_exact,
           {sql_round6(f"CAST(full_m AS DOUBLE) / {float(_MH_K)}")} AS j_full,
           {sql_round6(f"(CAST(bbit_m AS DOUBLE) / {float(_MH_K)} - {_BBIT_C}) / {1.0 - _BBIT_C}")} AS j_bbit
    FROM agree a
    JOIN sized na ON na.doc_id = a.a_id
    JOIN sized nb ON nb.doc_id = a.b_id
    LEFT JOIN inter i ON i.a_id = a.a_id AND i.b_id = a.b_id
    """,
)
def minhash_bbit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """b-bit minwise hashing audit (C81) — Li & Koenig's storage
    compression for MinHash at corpus scale: keep only the lowest
    {_BBIT_B} bits of each permutation minimum (30x smaller signatures)
    and debias the agreement rate by the 1/2^b accidental-collision
    term.  For every C7 LSH candidate pair this reports the exact
    Jaccard (posting intersection, candidate-restricted — C48's
    ground-truth discipline), the full-signature estimate matches/K,
    and the b-bit estimate (m_b/K − C)/(1 − C) side by side — the table
    that justifies (or vetoes) shipping compressed signatures for a
    given corpus.

    Scale shape: signatures are the SAME row-local _mh_sigs pass C7
    banding uses (one definition); candidates come from C7's band
    buckets, never all-pairs; agreement counting is row-local over two
    24-long signature structs joined by doc_id (uniform keys); the
    exact-J side is df-bounded posting intersection restricted to
    candidates.  At 100 TB the b-bit table is the one you can afford to
    keep resident — 6 bytes per doc vs 183."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    shd = _shingled(docs, spark).localCheckpoint()
    sigs = _mh_sigs(shd).localCheckpoint(eager=True)
    bands = _mh_bands(shd)
    cand = (
        bands.alias("a")
        .join(bands.alias("b"), ["band", "bkey"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    sh = shd.select("doc_id", F.explode("sh_arr").alias("sh"))
    sized = shd.select("doc_id", F.size("sh_arr").alias("n"))
    sh_a = sh.select(F.col("doc_id").alias("a_id"), "sh")
    sh_b = sh.select(F.col("doc_id").alias("b_id"), "sh")
    inter = (
        cand.join(sh_a, "a_id")
        .join(sh_b, ["b_id", "sh"])  # equi-join on (b_id, shingle)
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    full_m = sum(
        F.when(F.col(f"sa.m{i}") == F.col(f"sb.m{i}"), 1).otherwise(0)
        for i in range(_MH_K)
    )
    bbit_m = sum(
        F.when(
            F.col(f"sa.m{i}").bitwiseAND(F.lit(_BBIT_MASK))
            == F.col(f"sb.m{i}").bitwiseAND(F.lit(_BBIT_MASK)),
            1,
        ).otherwise(0)
        for i in range(_MH_K)
    )
    agree = (
        cand.join(sigs.alias("sa"), F.col("sa.doc_id") == F.col("a_id"))
        .join(sigs.alias("sb"), F.col("sb.doc_id") == F.col("b_id"))
        .select("a_id", "b_id", full_m.alias("full_m"), bbit_m.alias("bbit_m"))
    )
    na = sized.withColumnRenamed("doc_id", "a_id").withColumnRenamed("n", "na")
    nb = sized.withColumnRenamed("doc_id", "b_id").withColumnRenamed("n", "nb")
    ii = F.coalesce(F.col("i"), F.lit(0))
    return (
        agree.join(na, "a_id")
        .join(nb, "b_id")
        .join(inter, ["a_id", "b_id"], "left")
        .select(
            "a_id",
            "b_id",
            round6(
                ii.cast("double") / (F.col("na") + F.col("nb") - ii).cast("double")
            ).alias("j_exact"),
            round6(F.col("full_m").cast("double") / F.lit(float(_MH_K))).alias(
                "j_full"
            ),
            round6(
                (F.col("bbit_m").cast("double") / F.lit(float(_MH_K)) - _BBIT_C)
                / F.lit(1.0 - _BBIT_C)
            ).alias("j_bbit"),
        )
    )
