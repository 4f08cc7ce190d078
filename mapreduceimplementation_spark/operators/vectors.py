"""Embedding-space operators (SURVEY.md §2 C9–C11, C13): L2 normalization,
brute-force ANN top-k, hyperplane-LSH ANN, embedding near-dup pairs.

Scale design:

- All vector math is zip_with/aggregate over array<double> — JVM-side,
  whole-stage codegen, no UDF (functions/vectors.py).
- ``ann_topk`` is the clearly-named brute-force baseline: it broadcasts the
  (bounded) query set and streams the corpus once — correct at any corpus
  size, O(|Q|·n) work.  The window for top-k partitions by query id, so
  its shuffle moves only |Q| * n candidate rows, never the corpus itself.
- ``ann_lsh`` / ``dedup_embedding`` are the scale paths: random-hyperplane
  signatures (sign of <v, w_p>) computed row-local at scan speed, then a
  bucket equi-join — candidate volume is n²/2^bits per table, tuned by
  raising bits with corpus size.  Recall is bounded (documented per op);
  the exact cosine re-check means no false positives.
- Hyperplane weights are **md5-derived doubles**, computed identically by
  this module (Python, embedded as Spark literals) and by the DuckDB
  oracle SQL (same md5 → BIGINT → /2^60*2-1 float ops, bit-exact — the
  dot products use left-fold summation on both engines so even the sign
  of a near-zero dot agrees).  Signatures are therefore stable across
  engines, cluster sizes and reruns — resumable 100 TB jobs.

Reference anchor: bucket inversion is src/mrapps/indexer.go:1-38's
word→docs map shape with LSH codes as the words.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mapreduceimplementation_spark.functions.hashing import hash64, sql_hash64
from mapreduceimplementation_spark.functions.hashing import py_hash64 as _h64_py
from mapreduceimplementation_spark.functions.vectors import dot, l2_norm, round6, sql_round6
from mapreduceimplementation_spark.registry import BASELINE_CLASS, register
from mapreduceimplementation_spark.session import spread
from mapreduceimplementation_spark.sources.tables import load_table

_DIM = 64  # embeddings table vector width (TESTDATA.md)
_POW60 = float(1 << 60)

_Q_MAX = 8  # queries = vec_id < 8 (a bounded, broadcastable set)
_TOPK = 10

_LSH_TABLES, _LSH_BITS = 2, 6  # ann_lsh: 2 tables x 6 hyperplanes
_DE_TABLES, _DE_BITS = 8, 4  # dedup_embedding: 8 tables x 4 hyperplanes
_DE_TAU = 0.4  # cosine threshold for near-dup pairs


def _weights(seed: str, t: int, p: int) -> list[float]:
    """Hyperplane p of table t: 64 md5-derived doubles in [-1, 1).

    float(h)/2^60*2-1 uses only a cast, an exact power-of-two scale, an
    exact doubling and one subtraction — the same IEEE op sequence the
    DuckDB oracle runs, so the weights are bit-identical there.
    """
    return [
        float(_h64_py(f"{seed}-{t}-{p}-{j}")) / _POW60 * 2.0 - 1.0
        for j in range(1, _DIM + 1)
    ]


def _sql_dot_weights(vec: str, seed: str, t: int, p: int) -> str:
    """DuckDB: <vec, weights(seed,t,p)> as a left-fold (matches F.aggregate)."""
    w = (
        f"((('0x'||substr(md5('{seed}-{t}-{p}-'||i),1,15))::BIGINT"
        f" / {int(_POW60)}.0)*2-1)"
    )
    return (
        f"list_reduce(list_transform(range(1, {_DIM + 1}),"
        f" i -> {vec}[i] * {w}), (a, b) -> a + b)"
    )


def _code(v: Column, seed: str, t: int, bits: int) -> Column:
    """LSH bucket code of table t: bit p = sign of <v, w_{t,p}>.

    Deliberately an aggregate(zip_with(..)) fold, NOT an unrolled add
    chain: unrolling bits x dim literal products was measured 5x SLOWER
    end-to-end at sf0.1 (r10 A/B) — the optimizer/codegen cost of the
    multi-thousand-node expression tree dwarfs the interpreted fold."""
    acc = F.lit(0)
    for p in range(bits):
        w = F.array(*[F.lit(x) for x in _weights(seed, t, p)])
        d = F.aggregate(
            F.zip_with(v, w, lambda a, b: a * b), F.lit(0.0), lambda a, x: a + x
        )
        acc = acc + F.when(d >= 0, F.lit(1 << p)).otherwise(F.lit(0))
    return acc


def _sql_code(vec: str, seed: str, t: int, bits: int) -> str:
    return " + ".join(
        f"(CASE WHEN {_sql_dot_weights(vec, seed, t, p)} >= 0 THEN {1 << p} ELSE 0 END)"
        for p in range(bits)
    )


#: DuckDB: embeddings with double vectors and L2 norms (left-fold sums)
_SQL_NORMED = """
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    n AS (
        SELECT vec_id, v,
               sqrt(list_reduce(list_transform(v, x -> x*x), (a, b) -> a + b)) AS nrm
        FROM e WHERE len(v) > 0
    )
"""


def _normed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings as (vec_id, v: array<double>, nrm) — the shared scan.

    spread(): vector math runs through interpreted higher-order functions,
    so a single-file local scan must not serialize it onto one core (no-op
    on multi-split cluster scans)."""
    emb = spread(
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        ),
        spark,
    )
    return emb.where(F.size("v") > 0).select("vec_id", "v", l2_norm("v").alias("nrm"))


# ---------------------------------------------------------------------------
# C13. embed_normalize


@register(
    "embed_normalize",
    oracle=f"""
    WITH {_SQL_NORMED}
    SELECT vec_id,
           CAST(len(v) AS INT) AS dim,
           floor(nrm * 1000000.0 + 0.5) / 1000000.0 AS norm,
           array_to_string(
               list_transform(v, x -> CAST(CASE
                   WHEN x / nrm * 1000000.0 < 0
                   THEN -floor(-(x / nrm * 1000000.0) + 0.5)
                   ELSE floor(x / nrm * 1000000.0 + 0.5) END AS BIGINT)),
               ',') AS unit_fp
    FROM n
    """,
)
def embed_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2-normalize embeddings — zip_with/aggregate only, zero shuffle.

    The unit vector is emitted as comma-joined fixed-point (1e-6) integers:
    engine-portable (no float-to-string formatting divergence) and exactly
    what you'd feed a downstream fixed-point-quantizing index builder.

    Rounding is explicit half-AWAY via floor(|q| + 0.5) stated identically
    on both engines — never engine round(): Spark HALF_UP vs DuckDB
    half-even diverge on exact half boundaries (the documented
    embedding_outliers incident; floor of bit-equal doubles cannot).  The
    same formula fixes the norm's 6-digit grain."""
    n = _normed(spark, sf_dir)

    def half_away(q: Column) -> Column:
        return F.when(q < 0, -F.floor(-q + F.lit(0.5))).otherwise(
            F.floor(q + F.lit(0.5))
        )

    return n.select(
        "vec_id",
        F.size("v").cast("int").alias("dim"),
        (F.floor(F.col("nrm") * 1000000.0 + F.lit(0.5)) / 1000000.0).alias("norm"),
        F.array_join(
            F.transform(
                "v",
                lambda x: half_away(x / F.col("nrm") * 1000000.0).cast("long"),
            ),
            ",",
        ).alias("unit_fp"),
    )


# ---------------------------------------------------------------------------
# C10. ann_topk (brute-force baseline)

_SQL_COS = (
    f"list_reduce(list_transform(range(1, {_DIM + 1}),"
    " i -> nq.v[i] * nc.v[i]), (a, b) -> a + b) / (nq.nrm * nc.nrm)"
)

#: DuckDB: exact brute-force cosine top-k per query as CTEs over ``n``
#: (shared by ann_topk and the C53 recall audit so the two cannot drift)
_SQL_TOPK_CTES = f"""
    s AS (
        SELECT nq.vec_id AS q_id, nc.vec_id AS neighbor_id,
               {sql_round6(_SQL_COS)} AS cos
        FROM n nq JOIN n nc ON nq.vec_id < {_Q_MAX} AND nc.vec_id <> nq.vec_id
    ),
    ex AS (
        SELECT q_id, neighbor_id, cos, rank FROM (
            SELECT *, CAST(row_number() OVER (
                PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS INT) AS rank
            FROM s
        ) WHERE rank <= {_TOPK}
    )
"""


def _exact_topk(n: DataFrame) -> DataFrame:
    """Exact cosine top-k per query over ``n``: (q_id, neighbor_id, cos,
    rank).  Broadcasts the bounded query set and streams the corpus once
    (BroadcastNestedLoopJoin by design); shared by ann_topk and C53."""
    q = n.select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
    ).where(F.col("q_id") < _Q_MAX)
    cos = round6(dot("v", "qv") / (F.col("nrm") * F.col("qnrm")))
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        n.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cos")
        )
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _TOPK)
    )


@register(
    "ann_topk",
    tags=(BASELINE_CLASS,),
    oracle=f"""
    WITH {_SQL_NORMED},
    {_SQL_TOPK_CTES}
    SELECT q_id, neighbor_id, cos, rank FROM ex
    """,
)
def ann_topk(
    spark: SparkSession, sf_dir: str, sample_mod: int | None = None
) -> DataFrame:
    """Brute-force cosine top-10 per query vector (the exact baseline;
    see _TOPK/_Q_MAX).

    Broadcasts the bounded query set (vec_id < 8) and streams the corpus
    once — a BroadcastNestedLoopJoin by design, NOT an accidental cartesian:
    O(|Q|*n) work that any executor count divides evenly.  Ranking uses the
    *rounded* cosine with neighbor_id tie-break so the top-k frontier is
    deterministic across engines and partitionings.

    At 100 TB serve from C11b/C62 and run THIS on a corpus sample:
    ``sample_mod=k`` keeps the deterministic 1/k vec_id-hash slice (query
    vectors always kept, so every query still gets a full ranking over
    the slice) — the mechanical escape the BASELINE_CLASS tag points at.
    """
    n = _normed(spark, sf_dir)
    if sample_mod:
        n = n.where(
            (F.col("vec_id") < _Q_MAX)
            | (
                hash64(F.col("vec_id").cast("string"), salt="bsample-")
                % sample_mod
                == 0
            )
        )
    return _exact_topk(n)


# ---------------------------------------------------------------------------
# C11. ann_lsh (random-hyperplane bucketed ANN)


def _buckets_expr(n: DataFrame, seed: str, tables: int, bits: int) -> DataFrame:
    """The original expression form of _buckets — kept as the
    differential-pytest reference for the Arrow kernel below."""
    return n.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("t"), _code(F.col("v"), seed, t, bits).alias("code")
                    )
                    for t in range(tables)
                ]
            )
        ).alias("tc"),
    ).select("vec_id", "tc.t", "tc.code")


def _make_buckets_kernel(seed: str, tables: int, bits: int):
    """mapInArrow kernel computing every table's LSH code per vector,
    vectorized in NumPy — replaces tables x bits interpreted
    aggregate(zip_with(..)) dots per row (r10; guide §4.2).

    EXACTNESS (differential-pytest-pinned against _buckets_expr):
    - the fold order is preserved: acc += v[j] * w[j] runs the identical
      IEEE multiply+add sequence, j ascending from a 0.0 seed, as the
      old left fold — signs of near-zero dots match bit-for-bit;
    - Spark/DuckDB order NaN above every number, so `d >= 0` is TRUE for
      a NaN dot — the kernel ORs in isnan(d);
    - a vector of length != _DIM made every zip_with product column null
      in the old form, nulling d and zeroing ALL that row's bits: such
      rows emit code 0 for every table here too, and so do null vectors
      (a null d in the old form as well);
    - null ELEMENTS inside a vector have no exact NumPy twin (they
      null d, NaN does not) — the kernel asserts them absent (loud,
      not silently wrong; the embeddings contract has no null dims)."""

    def kernel(it):
        import numpy as np
        import pyarrow as pa

        w = np.array(
            [
                [_weights(seed, t, p) for p in range(bits)]
                for t in range(tables)
            ],
            dtype=np.float64,
        ).reshape(tables * bits, _DIM)
        tcol = np.arange(tables, dtype=np.int32)
        pw = (1 << np.arange(bits, dtype=np.int64))[None, None, :]
        for batch in it:
            ids = np.asarray(batch.column(0), dtype=np.int64)
            col = batch.column(1)
            rows = len(ids)
            if rows == 0:
                continue
            flat_arr = col.flatten()
            assert flat_arr.null_count == 0, "_buckets: null vector element"
            flat = np.asarray(flat_arr, dtype=np.float64)
            lens = np.asarray(col.value_lengths().fill_null(0), dtype=np.int64)
            starts = np.zeros(rows, dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            codes = np.zeros((rows, tables), dtype=np.int32)
            ok = lens == _DIM
            if ok.any():
                vidx = starts[ok, None] + np.arange(_DIM)[None, :]
                v = flat[vidx]  # (n_ok, _DIM)
                acc = np.zeros((v.shape[0], tables * bits), dtype=np.float64)
                for j in range(_DIM):
                    acc += v[:, j, None] * w[None, :, j]
                bit = (acc >= 0) | np.isnan(acc)
                codes[ok] = (
                    (bit.reshape(-1, tables, bits) * pw).sum(axis=2)
                ).astype(np.int32)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.repeat(ids, tables), type=pa.int64()),
                    pa.array(np.tile(tcol, rows), type=pa.int32()),
                    pa.array(codes.reshape(-1), type=pa.int32()),
                ],
                names=["vec_id", "t", "code"],
            )

    return kernel


def _buckets(n: DataFrame, seed: str, tables: int, bits: int) -> DataFrame:
    """(vec_id, t, code) — LSH codes for every table, computed row-local
    (one Arrow-batched NumPy pass; see _make_buckets_kernel)."""
    return n.select("vec_id", "v").mapInArrow(
        _make_buckets_kernel(seed, tables, bits),
        "vec_id long, t int, code int",
    )


def _sql_buckets(seed: str, tables: int, bits: int) -> str:
    return " UNION ALL ".join(
        f"SELECT vec_id, {t} AS t, {_sql_code('v', seed, t, bits)} AS code FROM n"
        for t in range(tables)
    )


@register(
    "ann_lsh",
    oracle=f"""
    WITH {_SQL_NORMED},
    b AS ({_sql_buckets('hp', _LSH_TABLES, _LSH_BITS)}),
    cand AS (
        SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS neighbor_id
        FROM b q JOIN b c ON q.t = c.t AND q.code = c.code
        WHERE q.vec_id < {_Q_MAX} AND c.vec_id <> q.vec_id
    ),
    s AS (
        SELECT q_id, neighbor_id, {sql_round6(_SQL_COS)} AS cos
        FROM cand JOIN n nq ON nq.vec_id = q_id JOIN n nc ON nc.vec_id = neighbor_id
    )
    SELECT q_id, neighbor_id, cos, rank FROM (
        SELECT *, CAST(row_number() OVER (
            PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS INT) AS rank
        FROM s
    ) WHERE rank <= {_TOPK}
    """,
)
def ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed ANN: 2 hash tables x 6 random hyperplanes (_LSH_TABLES
    x _LSH_BITS).

    Codes are computed row-local (sign of <v, w> per plane, md5-derived w);
    candidates come from the bucket equi-join, then exact cosine ranks the
    top-10.  Expected candidate volume per query is L*n/2^bits — at larger
    corpora raise bits to hold bucket sizes constant.  Recall vs ann_topk
    is the LSH tradeoff: P[bucket match] = (1 - theta/pi)^bits per table,
    high for genuinely-close vectors, tiny for random ones.
    """
    n = _normed(spark, sf_dir)
    b = _buckets(n, "hp", _LSH_TABLES, _LSH_BITS)
    qb = b.where(F.col("vec_id") < _Q_MAX).select(
        F.col("vec_id").alias("q_id"), "t", "code"
    )
    cand = (
        b.join(F.broadcast(qb), ["t", "code"])
        .where(F.col("vec_id") != F.col("q_id"))
        .select("q_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    nq = n.select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv"), F.col("nrm").alias("qnrm")
    )
    cos = round6(dot("v", "qv") / (F.col("nrm") * F.col("qnrm")))
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        cand.join(F.broadcast(nq), "q_id")
        .join(n.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
        .select("q_id", "neighbor_id", cos.alias("cos"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _TOPK)
    )


# ---------------------------------------------------------------------------
# C9. dedup_embedding


@register(
    "dedup_embedding",
    oracle=f"""
    WITH {_SQL_NORMED},
    b AS ({_sql_buckets('de', _DE_TABLES, _DE_BITS)}),
    cand AS (
        SELECT DISTINCT a.vec_id AS a_id, b2.vec_id AS b_id
        FROM b a JOIN b b2 ON a.t = b2.t AND a.code = b2.code AND a.vec_id < b2.vec_id
    ),
    s AS (
        SELECT a_id, b_id, {_SQL_COS.replace('nq.', 'na.').replace('nc.', 'nb.')} AS cos
        FROM cand JOIN n na ON na.vec_id = a_id JOIN n nb ON nb.vec_id = b_id
    )
    SELECT a_id, b_id, {sql_round6('cos')} AS cos
    FROM s WHERE cos >= {_DE_TAU}
    """,
)
def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: cosine >= 0.4 (_DE_TAU) over
    LSH-blocked candidates.

    8 tables x 4 hyperplane bits (_DE_TABLES x _DE_BITS): for
    truly-near pairs (small angle)
    the any-table collision probability is high; the exact cosine re-check
    removes all false positives.  Candidate volume is L*n²/2^bits — raise
    bits with corpus size to keep buckets bounded (the oracle replays the
    identical blocking, so results are engine-reproducible at any setting).
    """
    n = _normed(spark, sf_dir)
    b = _buckets(n, "de", _DE_TABLES, _DE_BITS)
    a = b.select(F.col("vec_id").alias("a_id"), "t", "code")
    b2 = b.select(F.col("vec_id").alias("b_id"), F.col("t").alias("t2"), F.col("code").alias("code2"))
    cand = (
        a.join(
            b2,
            (F.col("t") == F.col("t2"))
            & (F.col("code") == F.col("code2"))
            & (F.col("a_id") < F.col("b_id")),
        )
        .select("a_id", "b_id")
        .distinct()
    )
    na = n.select(F.col("vec_id").alias("a_id"), F.col("v").alias("va"), F.col("nrm").alias("na"))
    nb = n.select(F.col("vec_id").alias("b_id"), F.col("v").alias("vb"), F.col("nrm").alias("nb"))
    cos = dot("va", "vb") / (F.col("na") * F.col("nb"))
    return (
        cand.join(na, "a_id")
        .join(nb, "b_id")
        .where(cos >= _DE_TAU)
        .select("a_id", "b_id", round6(cos).alias("cos"))
    )


# ---------------------------------------------------------------------------
# C11b. ann_ivf (inverted-file index over deterministic centroids)

_IVF_K = 16  # centroid count
_IVF_NPROBE = 4  # cells probed per query


def _centroid(k: int) -> list[float]:
    """Centroid k: 64 md5-derived doubles in [-1, 1) (seed 'ivf-{k}-{j}').

    Production IVF trains centroids with k-means; a fixed md5-derived
    centroid set keeps the index deterministic and engine-reproducible
    while exercising the identical plumbing (cell assignment, inverted
    lists, nprobe search)."""
    return [
        float(_h64_py(f"ivf-{k}-{j}")) / _POW60 * 2.0 - 1.0
        for j in range(1, _DIM + 1)
    ]


def _centroid_norm(k: int) -> float:
    """Left-fold |c_k| with the same IEEE op order as both engines."""
    acc = 0.0
    for x in _centroid(k):
        acc = acc + x * x
    import math

    return math.sqrt(acc)


def _cell_scores(v: Column) -> list[Column]:
    """cos(v, c_k)/|v| is monotone in dot(v, c_k)/|c_k| per row — |v|
    divides out of the argmax, so score_k = <v, c_k>/|c_k|."""
    out = []
    for k in range(_IVF_K):
        w = F.array(*[F.lit(x) for x in _centroid(k)])
        d = F.aggregate(
            F.zip_with(v, w, lambda a, b: a * b), F.lit(0.0), lambda a, x: a + x
        )
        out.append(d / F.lit(_centroid_norm(k)))
    return out


def _sql_cell_scores(vec: str) -> list[str]:
    out = []
    for k in range(_IVF_K):
        w = (
            f"((('0x'||substr(md5('ivf-{k}-'||i),1,15))::BIGINT"
            f" / {int(_POW60)}.0)*2-1)"
        )
        d = (
            f"list_reduce(list_transform(range(1, {_DIM + 1}),"
            f" i -> {vec}[i] * {w}), (a, b) -> a + b)"
        )
        out.append(f"({d} / {_centroid_norm(k)!r})")
    return out


#: DuckDB: IVF cell assignment + nprobe candidate CTEs over ``n``
#: (shared by ann_ivf and the C53 recall audit so the two cannot drift)
_SQL_IVF_CAND_CTES = f"""
    cells AS (
        SELECT vec_id,
               CAST(list_position(sc, list_max(sc)) - 1 AS INT) AS cell
        FROM (SELECT vec_id, [{", ".join(_sql_cell_scores('v'))}] AS sc FROM n)
    ),
    qprobe AS (
        SELECT vec_id AS q_id, CAST(k AS INT) AS cell FROM (
            SELECT vec_id, k, row_number() OVER (
                PARTITION BY vec_id ORDER BY sc[k + 1] DESC, k) AS pr
            FROM (SELECT vec_id, [{", ".join(_sql_cell_scores('v'))}] AS sc FROM n
                  WHERE vec_id < {_Q_MAX}),
                 (SELECT unnest(range({_IVF_K})) AS k)
        ) WHERE pr <= {_IVF_NPROBE}
    ),
    cand AS (
        SELECT DISTINCT q_id, c.vec_id AS neighbor_id
        FROM qprobe JOIN cells c ON c.cell = qprobe.cell
        WHERE c.vec_id <> q_id
    )
"""


def _ivf_candidates(n: DataFrame) -> DataFrame:
    """IVF candidate pairs (q_id, neighbor_id) over ``n``: row-local cell
    scores, argmax cell per vector, top-_IVF_NPROBE cells per query, then
    a broadcast equi-join on cell.  Shared by ann_ivf and C53."""
    scores = F.array(*_cell_scores(F.col("v")))
    scored = n.select("vec_id", "v", "nrm", scores.alias("sc"))
    cells = scored.select(
        "vec_id",
        (F.array_position("sc", F.array_max("sc")) - 1).cast("int").alias("cell"),
    )
    kcol = F.explode(F.sequence(F.lit(0), F.lit(_IVF_K - 1))).alias("k")
    qprobe = (
        scored.where(F.col("vec_id") < _Q_MAX)
        .select(F.col("vec_id").alias("q_id"), "sc", kcol)
        .withColumn(
            "pr",
            F.row_number().over(
                Window.partitionBy("q_id").orderBy(
                    F.element_at("sc", F.col("k") + 1).desc(), F.col("k")
                )
            ),
        )
        .where(F.col("pr") <= _IVF_NPROBE)
        .select("q_id", F.col("k").cast("int").alias("cell"))
    )
    return (
        cells.join(F.broadcast(qprobe), "cell")
        .where(F.col("vec_id") != F.col("q_id"))
        .select("q_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )


@register(
    "ann_ivf",
    oracle=f"""
    WITH {_SQL_NORMED},
    {_SQL_IVF_CAND_CTES},
    s AS (
        SELECT q_id, neighbor_id, {sql_round6(_SQL_COS)} AS cos
        FROM cand JOIN n nq ON nq.vec_id = q_id JOIN n nc ON nc.vec_id = neighbor_id
    )
    SELECT q_id, neighbor_id, cos, rank FROM (
        SELECT *, CAST(row_number() OVER (
            PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS INT) AS rank
        FROM s
    ) WHERE rank <= {_TOPK}
    """,
)
def ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: assign vectors to their nearest of {K} fixed centroids
    (the inverted file), probe the 4 best cells per query (_IVF_NPROBE),
    exact-rank
    within the probed cells.

    Cell assignment is row-local (16 codegen dot products, argmax via
    array_position of the max — deterministic lowest-k tie-break); the
    inverted "lists" are just the cell column, so the candidate step is a
    broadcast equi-join on cell.  At scale this is the partition-pruning
    layout: write the corpus bucketed BY cell and a query touches only
    nprobe/16 of the data.  Centroids are md5-derived (deterministic,
    engine-reproducible); swap in k-means centroids in production without
    touching the query plan.
    """
    n = _normed(spark, sf_dir)
    cand = _ivf_candidates(n)
    nq = n.select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv"), F.col("nrm").alias("qnrm")
    )
    cos = round6(dot("v", "qv") / (F.col("nrm") * F.col("qnrm")))
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        cand.join(F.broadcast(nq), "q_id")
        .join(n.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
        .select("q_id", "neighbor_id", cos.alias("cos"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _TOPK)
    )


# ---------------------------------------------------------------------------
# C53. ivf_recall_audit — measure what nprobe-limited cell probing misses


@register(
    "ivf_recall_audit",
    tags=(BASELINE_CLASS,),
    oracle=f"""
    WITH {_SQL_NORMED},
    {_SQL_IVF_CAND_CTES},
    {_SQL_TOPK_CTES}
    SELECT ex.q_id,
           CAST(count(*) AS BIGINT) AS n_exact,
           CAST(SUM(CASE WHEN cand.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_caught,
           {sql_round6('''SUM(CASE WHEN cand.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                 * 1.0 / count(*)''')} AS recall
    FROM ex LEFT JOIN cand
      ON cand.q_id = ex.q_id AND cand.neighbor_id = ex.neighbor_id
    GROUP BY ex.q_id
    """,
)
def ivf_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall audit of C11b's IVF index against the exact brute-force
    ground truth: for each query, how many of the exact cosine top-10
    landed in a probed cell (nprobe={_IVF_NPROBE} of {_IVF_K})?  Emits
    per query the exact-neighbor count, the caught count, and observed
    recall@{_TOPK} — C48's self-audit discipline applied to the vector
    index: a production ANN deployment measures recall on a bounded
    query sample before trusting (K, nprobe) at full corpus scale, and
    re-measures after every re-train, because IVF recall degrades
    silently as the corpus drifts away from the centroids.

    Both sides are the SHARED fragments of the audited operators
    themselves (_exact_topk / _ivf_candidates, same CTE text in the
    oracle), so the audit measures the real index, not a re-derivation
    that could drift.

    Scale shape: the ground-truth side is the C10 bounded-query BNLJ
    (baseline-class — at 100 TB this audit runs on a query sample, the
    corpus side streams once); the candidate side is row-local cell
    scores + a broadcast equi-join on cell; the shared normalized scan
    is localCheckpoint'ed so the two consumers do not re-read parquet;
    the final rollup is |Q| rows."""
    n = _normed(spark, sf_dir).localCheckpoint(eager=False)
    ex = _exact_topk(n)
    cand = _ivf_candidates(n).withColumn("caught", F.lit(True))
    return (
        ex.join(cand, ["q_id", "neighbor_id"], "left")
        .groupBy("q_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.sum(F.when(F.col("caught"), 1).otherwise(0)).alias("n_caught"),
            round6(
                F.sum(F.when(F.col("caught"), 1).otherwise(0))
                / F.count(F.lit(1))
            ).alias("recall"),
        )
    )


# ---------------------------------------------------------------------------
# C15. kmeans_embed (iterative Lloyd's, integer-quantized)

_KM_K = 8  # clusters; seeds = the vectors with vec_id < _KM_K
_KM_ASSIGN_STEPS = 3  # a1 -> update -> a2 -> update -> a3 (output)
_KM_SCALE = 1_000_000.0  # micro-unit fixed-point quantization


def _sql_km_dist(q: str, c: str) -> str:
    """DuckDB: squared L2 distance between two BIGINT micro-unit vectors."""
    return (
        f"list_reduce(list_transform(range(1, {_DIM + 1}),"
        f" i -> ({q}[i] - {c}[i]) * ({q}[i] - {c}[i])), (a, b) -> a + b)"
    )


def _sql_km_means() -> str:
    """DuckDB: element-wise integer-rounded mean of member vectors."""
    return ", ".join(
        f"CAST(round(CAST(sum(q[{j}]) AS DOUBLE) / count(*)) AS BIGINT)"
        for j in range(1, _DIM + 1)
    )


def _km_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, q: array<long>) — embeddings in micro-unit fixed point.

    Quantizing to integers makes EVERY downstream comparison exact: no
    float distance ties can break differently across engines, partition
    orders, or reruns — the property that makes an iterative clustering
    job resumable and oracle-checkable at 100 TB."""
    emb = spread(
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        ),
        spark,
    )
    return emb.where(F.size("v") > 0).select(
        "vec_id",
        F.transform(
            "v", lambda x: F.round(x * _KM_SCALE, 0).cast("long")
        ).alias("q"),
    )


def _km_assign(vq: DataFrame, centroids: dict[int, list[int]]) -> DataFrame:
    """Row-local assignment against broadcast model state.

    The k x dim centroid matrix rides a ONE-ROW broadcast DataFrame (not
    k x dim literals: embedding the model as literals made Catalyst
    analyze a 512-node expression tree per assignment plan, ~1 s of
    driver time per iteration — and would not scale to large k).  The
    expression is constant-size: a transform over centroid indices
    computing each squared distance, array_min picking the (dist, cid)
    argmin with cid tie-break.  Data path unchanged: broadcast join of
    one row, zero shuffle of the corpus."""
    spark = vq.sparkSession
    cids = sorted(centroids)
    cdf = spark.createDataFrame(
        [([int(c) for c in cids], [centroids[c] for c in cids])],
        "cids array<bigint>, mat array<array<bigint>>",
    )
    idx = F.sequence(F.lit(0), F.lit(len(cids) - 1))
    cands = F.transform(
        idx,
        lambda i: F.struct(
            F.aggregate(
                F.zip_with(
                    F.col("q"),
                    F.element_at("mat", i + F.lit(1)),
                    lambda a, b: (a - b) * (a - b),
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("d"),
            F.element_at("cids", i + F.lit(1)).alias("cid"),
        ),
    )
    best = F.array_min(cands)
    return vq.crossJoin(F.broadcast(cdf)).select(
        "vec_id",
        "q",
        best.getField("cid").alias("cluster"),
        best.getField("d").alias("dist"),
    )


def _km_matrix(cdf: DataFrame) -> DataFrame:
    """(cid, c) centroid rows -> ONE row (cids, mat), sorted by cid.

    The one-row shape _km_assign broadcasts — but built executor-side by
    an aggregation instead of a driver collect + createDataFrame, so an
    iteration chain never round-trips the model through the driver."""
    return cdf.agg(
        F.array_sort(F.collect_list(F.struct("cid", "c"))).alias("z")
    ).select(
        F.transform("z", lambda s: s["cid"]).alias("cids"),
        F.transform("z", lambda s: s["c"]).alias("mat"),
    )


def _km_cand_structs(id_alias: str = "cid"):
    """(d, <id_alias>) struct per centroid of the broadcast (cids, mat)
    matrix row — d the exact integer squared L2 from the row's q.  ONE
    definition: assignment (argmin via array_min) and IVF cell probing
    (explode + rank) must rank by the SAME distance or trained cells and
    query probes silently disagree.

    Deliberately a runtime-sized transform over an interpreted fold, NOT
    an unrolled k x dim codegen chain: the unrolled variant was measured
    ~4x SLOWER end-to-end at sf0.1 (r10 A/B) — optimizer + codegen time
    on the ~2000-node expression tree, re-planned per AQE stage, dwarfs
    the per-element interpretation it saved (the same lesson as the
    module's "k x dim literals" note on _km_assign)."""
    idx = F.sequence(F.lit(0), F.size("cids") - 1)
    return F.transform(
        idx,
        lambda i: F.struct(
            F.aggregate(
                F.zip_with(
                    F.col("q"),
                    F.element_at("mat", i + F.lit(1)),
                    lambda a, b: (a - b) * (a - b),
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("d"),
            F.element_at("cids", i + F.lit(1)).alias(id_alias),
        ),
    )


def _km_assign_mat(vq: DataFrame, cmat: DataFrame) -> DataFrame:
    """Row-local assignment against a one-row broadcast centroid matrix
    (same expression as _km_assign, with the candidate count taken from
    size(cids) at runtime instead of Python len — the matrix is a plan
    subtree here, not driver data)."""
    best = F.array_min(_km_cand_structs("cid"))
    return vq.crossJoin(F.broadcast(cmat)).select(
        "vec_id",
        "q",
        best.getField("cid").alias("cluster"),
        best.getField("d").alias("dist"),
    )


def _km_train(vq: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The full Lloyd's chain as one lazy plan: seeds -> _KM_ASSIGN_STEPS
    assignments with a centroid update between each.  Returns (cm, a):
    the FINAL one-row centroid matrix and the final assignment — shared
    by kmeans_embed (wants a) and ann_ivf_kmeans (wants cm) so the
    training recipe exists exactly once."""
    cm = _km_matrix(
        vq.where(F.col("vec_id") < _KM_K).select(
            F.col("vec_id").alias("cid"), F.col("q").alias("c")
        )
    )
    a = _km_assign_mat(vq, cm)
    for _ in range(_KM_ASSIGN_STEPS - 1):
        cm = _km_matrix(_km_means(a))
        a = _km_assign_mat(vq, cm)
    return cm, a


def _km_means(assigned: DataFrame) -> DataFrame:
    """New centroids as (cid, c) rows: per-cluster element-wise
    integer-rounded mean.  One partial-agg shuffle of k x dim running
    sums; the rounded mean is computed executor-side with F.round
    (HALF_UP on the shortest-decimal value — the same half-away-from-zero
    result as DuckDB round(), which the oracle gate pins bit-for-bit)."""
    sums = [F.sum(F.col("q").getItem(j)).alias(f"s{j}") for j in range(_DIM)]
    agg = assigned.groupBy("cluster").agg(F.count(F.lit(1)).alias("n"), *sums)
    c = F.array(
        *[
            F.round(F.col(f"s{j}") / F.col("n"), 0).cast("long")
            for j in range(_DIM)
        ]
    )
    return agg.select(F.col("cluster").alias("cid"), c.alias("c"))


def _sql_km_iters() -> str:
    """The oracle's unrolled iteration chain (assign/update CTEs)."""
    parts = [
        f"c0 AS (SELECT vec_id AS cid, q AS c FROM vq WHERE vec_id < {_KM_K})"
    ]
    dist = _sql_km_dist("q", "c")
    for i in range(1, _KM_ASSIGN_STEPS + 1):
        # min over [dist, cid] lists = lexicographic argmin w/ cid tie-break
        parts.append(
            f"a{i} AS (SELECT vec_id, q, min([{dist}, cid])[2] AS cluster,"
            f" min([{dist}, cid])[1] AS dist"
            f" FROM vq CROSS JOIN c{i - 1} GROUP BY vec_id, q)"
        )
        if i < _KM_ASSIGN_STEPS:
            parts.append(
                f"c{i} AS (SELECT cluster AS cid, [{_sql_km_means()}] AS c"
                f" FROM a{i} GROUP BY cluster)"
            )
    return ",\n    ".join(parts)


@register(
    "kmeans_embed",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    vq AS (
        SELECT vec_id,
               list_transform(v, x -> CAST(round(x * 1000000) AS BIGINT)) AS q
        FROM e WHERE len(v) > 0
    ),
    {_sql_km_iters()}
    SELECT vec_id, cluster, dist FROM a{_KM_ASSIGN_STEPS}
    """,
)
def kmeans_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means over embeddings — the iterative-algorithm
    representative, made exactly deterministic by integer quantization.

    k=8 seed centroids (the vectors with vec_id < 8), 3 assignment steps
    with 2 centroid updates between them (see _KM_K/_KM_ASSIGN_STEPS);
    output is the final assignment (vec_id, cluster, squared micro-unit
    distance).

    Scale shape per iteration: one read of the localCheckpoint'ed
    working set with ROW-LOCAL assignment against a one-row broadcast
    k x dim centroid matrix (constant-size plan, zero shuffle — see
    _km_assign), then one partial-agg exchange of k x dim running sums.
    The driver only ever holds the model (8 x 64 longs), never data —
    the MLlib iteration contract.  Ties break on cluster id; distances,
    sums and rounded means are integer-exact, so Spark and the unrolled
    DuckDB CTE chain agree bit-for-bit at every iteration.
    """
    # cache the working set once: every assignment pass reads the
    # materialized quantized vectors instead of re-scanning and
    # re-quantizing the corpus — the canonical Spark iterative-algorithm
    # pattern (persist your iteration input)
    vq = _km_quantized(spark, sf_dir).localCheckpoint(eager=True)
    # the whole iteration chains into ONE job: each centroid generation is
    # a one-row aggregate broadcast back into the next assignment, so the
    # model never round-trips through the driver (r4 rewrite — the
    # collect-per-iteration version spent more wall time on fixed job
    # launches than on data; at scale the pass count over the corpus is
    # identical, but the per-iteration scheduling barrier is gone)
    _, assigned = _km_train(vq)
    return assigned.select("vec_id", "cluster", "dist")


# ---------------------------------------------------------------------------
# C21. knn_graph (corpus self-similarity top-k graph, LSH-blocked)

_KNN_TABLES, _KNN_BITS = 4, 8  # = lsh_bits_for(2000): sf0.1's corpus size
_KNN_K = 3


def lsh_bits_for(n: int, target_bucket: int = 8) -> int:
    """Derive hyperplane-LSH code width from corpus size.

    The candidate law (knn_graph docstring): expected directed candidates
    ≈ L·n²/2^bits, i.e. expected bucket occupancy n/2^bits.  Holding
    occupancy at ``target_bucket`` as the corpus grows gives
    bits = ceil(log2(n / target_bucket)) — the rule that stops a 100×
    deploy from shipping this file's sf0.1 constants (SURVEY §6 table;
    tests/test_vectors.py pins _KNN_BITS == lsh_bits_for(2000) and the
    resulting occupancy at two corpus sizes).  MinHash banding is
    deliberately NOT derived from n: its (b, r) recall law (1-j^r)^b
    depends only on the similarity threshold, and md5-uniform band
    hashes make random collisions negligible at any n (dedup.py)."""
    return max(1, math.ceil(math.log2(max(2, n) / target_bucket)))

_SQL_KNN_COS = (
    f"list_reduce(list_transform(range(1, {_DIM + 1}),"
    " i -> ns.v[i] * nd.v[i]), (a, b) -> a + b) / (ns.nrm * nd.nrm)"
)


#: full knn oracle, shared: C24's PageRank oracle embeds it as its edge CTE
_KNN_ORACLE = f"""
    WITH {_SQL_NORMED},
    b AS ({_sql_buckets('knn', _KNN_TABLES, _KNN_BITS)}),
    cand AS (
        SELECT DISTINCT a.vec_id AS src, c.vec_id AS dst
        FROM b a JOIN b c ON a.t = c.t AND a.code = c.code
        WHERE a.vec_id <> c.vec_id
    ),
    s AS (
        SELECT src, dst, {sql_round6(_SQL_KNN_COS)} AS cos
        FROM cand JOIN n ns ON ns.vec_id = src JOIN n nd ON nd.vec_id = dst
    )
    SELECT src, dst, cos, rank FROM (
        SELECT *, CAST(row_number() OVER (
            PARTITION BY src ORDER BY cos DESC, dst) AS INT) AS rank
        FROM s
    ) WHERE rank <= {_KNN_K}
    """


@register("knn_graph", oracle=_KNN_ORACLE)
def knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-nearest-neighbor graph over the whole corpus: each vector's top-3
    (_KNN_K) cosine neighbors among LSH-blocked candidates — the
    self-similarity structure behind near-dup auditing, diversity
    sampling, and graph-based label propagation.  Completes the
    similarity-search family: ann_topk ranks a bounded external query
    set, dedup_embedding thresholds unordered pairs, knn_graph ranks
    per-source over the corpus x corpus space.

    Scale shape: codes are row-local (_KNN_TABLES x _KNN_BITS =
    4 tables x 8 bits, md5-derived hyperplanes); candidate generation is in-bucket pair expansion
    (groupBy(t, code) + collect_list + a directed-pair array transform)
    — ONE shuffle on the bucket key, never an O(n²) self-join (SURVEY §6:
    the pair-expansion form also computes each bucket's lineage once).
    Expected directed-candidate volume is L*n²/2^bits; raise bits with
    corpus size to hold per-bucket fanout constant.  The exact-cosine
    top-k window partitions by src over candidate rows only.  Vectors
    whose buckets are all singletons emit no rows (no neighbors found —
    the honest LSH answer; lower bits if that matters)."""
    n = _normed(spark, sf_dir)
    b = _buckets(n, "knn", _KNN_TABLES, _KNN_BITS)
    ids = F.col("ids")
    pairs = (
        b.groupBy("t", "code")
        .agg(F.collect_list("vec_id").alias("ids"))
        .where(F.size("ids") >= 2)
        .select(
            F.explode(
                F.flatten(
                    F.transform(
                        ids,
                        lambda x: F.transform(
                            F.filter(ids, lambda y: y != x),
                            lambda y: F.struct(x.alias("src"), y.alias("dst")),
                        ),
                    )
                )
            ).alias("p")
        )
        .select("p.src", "p.dst")
        .distinct()
    )
    ns = n.select(F.col("vec_id").alias("src"), F.col("v").alias("vs"), F.col("nrm").alias("ns"))
    nd = n.select(F.col("vec_id").alias("dst"), F.col("v").alias("vd"), F.col("nrm").alias("nd"))
    cos = round6(dot("vs", "vd") / (F.col("ns") * F.col("nd")))
    w = Window.partitionBy("src").orderBy(F.col("cos").desc(), F.col("dst"))
    return (
        pairs.join(ns, "src")
        .join(nd, "dst")
        .select("src", "dst", cos.alias("cos"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _KNN_K)
    )


# ---------------------------------------------------------------------------
# C24. pagerank_knn (iterative PageRank over the kNN graph, integer-exact)

_PR_UNITS = 1_000_000_000  # rank mass in nano-units: all arithmetic integer
_PR_ITERS = 2  # rank updates after uniform init


def _sql_pr_iters() -> str:
    """Unrolled PageRank iterations (same technique as _sql_km_iters)."""
    parts = [
        f"r0 AS (SELECT vec_id, CAST({_PR_UNITS} // n AS BIGINT) AS u"
        " FROM nodes, nn)"
    ]
    for i in range(1, _PR_ITERS + 1):
        parts.append(
            f"c{i} AS (SELECT e.dst AS vec_id,"
            " CAST(sum(r.u // o.d) AS BIGINT) AS s"
            f" FROM edges e JOIN r{i - 1} r ON r.vec_id = e.src"
            " JOIN outdeg o ON o.src = e.src GROUP BY e.dst)"
        )
        parts.append(
            f"r{i} AS (SELECT v.vec_id,"
            f" CAST(CAST({3 * _PR_UNITS} AS BIGINT) // (20 * n)"
            f" + (17 * COALESCE(c.s, 0)) // 20 AS BIGINT) AS u"
            f" FROM nodes v LEFT JOIN c{i} c ON c.vec_id = v.vec_id, nn)"
        )
    return ",\n    ".join(parts)


@register(
    "pagerank_knn",
    oracle=f"""
    WITH edges AS (SELECT src, dst FROM ({_KNN_ORACLE})),
    nodes AS (SELECT vec_id FROM embeddings WHERE len(embedding) > 0),
    nn AS (SELECT count(*) AS n FROM nodes),
    outdeg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
    {_sql_pr_iters()}
    SELECT vec_id, u AS rank_units FROM r{_PR_ITERS}
    """,
)
def pagerank_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the corpus kNN graph — the MapReduce lineage's
    flagship iterative graph workload (link analysis over the
    reverse-web-link shape), run on C21's similarity edges to rank
    "centrally similar" documents (useful as a representativeness prior
    when curating training data).  Third fully-oracle-checked iterative
    algorithm after k-means (C15) and connected components (C18).

    Exactness: rank mass lives in integer nano-units; per-edge
    contribution is u div outdeg, damping is (17*s) div 20 and teleport
    (3*UNITS) div (20*N) — every operation is integral (truncating
    division, all values positive), so Spark and the unrolled DuckDB CTE
    chain agree bit-for-bit at every iteration.  Truncation leaks a few
    nano-units of mass per step (and dangling kNN-isolated nodes leak
    their out-mass) — deterministic, documented, and irrelevant at rank
    resolution.

    Scale shape per iteration: edges join ranks on src (both partitioned
    by node id — the canonical PageRank shuffle), one partial-agg
    exchange summing per-dst contributions, a left join back to the node
    list; N rides a one-row broadcast.  The expensive LSH edge relation
    is localCheckpoint'ed ONCE and reused by outdeg + every iteration
    (SURVEY §6: checkpoint tiny-but-expensive relations before fan-out)."""
    edges = (
        knn_graph(spark, sf_dir).select("src", "dst").localCheckpoint(eager=True)
    )
    nodes = _normed(spark, sf_dir).select("vec_id")
    n_row = nodes.agg(F.count(F.lit(1)).alias("n"))
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    r = nodes.crossJoin(F.broadcast(n_row)).select(
        "vec_id", F.expr(f"CAST({_PR_UNITS}L div n AS LONG)").alias("u")
    )
    for _ in range(_PR_ITERS):
        contrib = (
            edges.join(r.withColumnRenamed("vec_id", "src"), "src")
            .join(outdeg, "src")
            .select(F.col("dst").alias("vec_id"), F.expr("u div d").alias("c"))
        )
        insum = contrib.groupBy("vec_id").agg(F.sum("c").alias("s"))
        r = (
            nodes.join(insum, "vec_id", "left")
            .crossJoin(F.broadcast(n_row))
            .select(
                "vec_id",
                F.expr(
                    f"CAST({3 * _PR_UNITS}L div (20 * n)"
                    " + (17 * coalesce(s, 0L)) div 20 AS LONG)"
                ).alias("u"),
            )
        )
    return r.select("vec_id", F.col("u").alias("rank_units"))


# ---------------------------------------------------------------------------
# C26. pca_power_iter (top principal direction via power iteration, integer-exact)

_PCA_ITERS = 2
_PCA_S = 1_000_000  # fixed-point scale of the direction vector


def _trunc_div(a: int, b: int) -> int:
    """Truncating integer division (toward zero) — the shared semantics of
    Spark's `div` and DuckDB's `//` verified on negatives; Python's //
    floors, so the driver-side model update must not use it directly."""
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


def _sql_pca_iters() -> str:
    """Unrolled power-iteration CTE chain (same technique as k-means/PageRank)."""
    parts = [
        f"v0 AS (SELECT j, CAST({_PCA_S} AS BIGINT) AS v"
        f" FROM (SELECT unnest(range({_DIM})) AS j))"
    ]
    for i in range(1, _PCA_ITERS + 1):
        parts.append(
            f"s{i} AS (SELECT vec_id, q,"
            f" CAST(CAST(sum(q[j + 1] * v) AS BIGINT) // {_PCA_S} AS BIGINT) AS s"
            f" FROM vq, v{i - 1} GROUP BY vec_id, q)"
        )
        parts.append(
            f"y{i} AS (SELECT j, CAST(sum(q[j + 1] * s) AS BIGINT) AS y"
            f" FROM s{i}, (SELECT unnest(range({_DIM})) AS j) t GROUP BY j)"
        )
        parts.append(f"m{i} AS (SELECT max(abs(y)) AS m FROM y{i})")
        parts.append(
            f"v{i} AS (SELECT j,"
            f" CAST(y // GREATEST(m // {_PCA_S}, 1) AS BIGINT) AS v"
            f" FROM y{i}, m{i})"
        )
    return ",\n    ".join(parts)


@register(
    "pca_power_iter",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    vq AS (
        SELECT vec_id,
               list_transform(v, x -> CAST(round(x * {_PCA_S}) AS BIGINT)) AS q
        FROM e WHERE len(v) > 0
    ),
    {_sql_pca_iters()}
    SELECT CAST(j AS INT) AS dim, v AS component FROM v{_PCA_ITERS}
    """,
)
def pca_power_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding cloud via power iteration
    (v ← Xᵀ(Xv), renormalized) — the dimensionality-reduction
    representative, and the fourth fully-oracle-checked iterative
    algorithm (after k-means, connected components, PageRank).

    Exactness: embeddings are micro-unit ints (k-means' quantizer); each
    iteration computes s_i = (q_i·v) div S row-local against a one-row
    broadcast direction, per-dimension sums y_j = Σ_i q_ij·s_i as ONE
    posexplode + partial-agg exchange on 64 keys (map-side combine makes
    the shuffle d-sized per task — the tall-skinny Gram trick), and
    renormalizes v ← y div max(|y|/S) with truncating division — every
    op integral, verified identical (toward zero, negatives included) in
    Spark `div`, DuckDB `//`, and the driver-side _trunc_div, so the
    unrolled oracle CTE chain matches bit-for-bit.  The driver holds
    only the 64-long direction (model-only contract); the quantized
    working set is localCheckpoint'ed once.  Magnitude bounds fit long:
    |q·v| ≤ d·S² = 6.4e13, |y| ≤ n·S·(d·S) ≈ 1.3e17 at n=2000."""
    vq = _km_quantized(spark, sf_dir).localCheckpoint(eager=True)
    v = [_PCA_S] * _DIM
    for _ in range(_PCA_ITERS):
        vdf = spark.createDataFrame([([int(x) for x in v],)], "v array<bigint>")
        s = vq.crossJoin(F.broadcast(vdf)).select(
            "q",
            F.expr(
                f"aggregate(zip_with(q, v, (a, b) -> a * b), 0L,"
                f" (acc, x) -> acc + x) div {_PCA_S}"
            ).alias("s"),
        )
        y = (
            s.select("s", F.posexplode("q").alias("j", "x"))
            .groupBy("j")
            .agg(F.sum(F.col("x") * F.col("s")).alias("y"))
        )
        rows = {r["j"]: int(r["y"]) for r in y.collect()}
        m = max(abs(x) for x in rows.values())
        d = max(_trunc_div(m, _PCA_S), 1)
        v = [_trunc_div(rows[j], d) for j in range(_DIM)]
    out = spark.createDataFrame(
        [(j, v[j]) for j in range(_DIM)], "dim int, component bigint"
    )
    return out


# ---------------------------------------------------------------------------
# C30. ann_ivf_kmeans (IVF with k-means-trained cells)

_IVFK_NPROBE = 2  # cells probed per query (of _KM_K = 8 trained cells)


@register(
    "ann_ivf_kmeans",
    oracle=f"""
    WITH {_SQL_NORMED},
    vq AS (
        SELECT vec_id,
               list_transform(v, x -> CAST(round(x * 1000000) AS BIGINT)) AS q
        FROM e WHERE len(v) > 0
    ),
    {_sql_km_iters()},
    cells AS (SELECT vec_id, cluster AS cell FROM a{_KM_ASSIGN_STEPS}),
    qd AS (
        SELECT vec_id AS q_id, cid AS cell,
               row_number() OVER (
                   PARTITION BY vec_id
                   ORDER BY {_sql_km_dist('q', 'c')}, cid) AS pr
        FROM (SELECT * FROM vq WHERE vec_id < {_Q_MAX}) CROSS JOIN c{_KM_ASSIGN_STEPS - 1}
    ),
    qprobe AS (SELECT q_id, cell FROM qd WHERE pr <= {_IVFK_NPROBE}),
    cand AS (
        SELECT DISTINCT q_id, c.vec_id AS neighbor_id
        FROM qprobe JOIN cells c ON c.cell = qprobe.cell
        WHERE c.vec_id <> q_id
    ),
    s AS (
        SELECT q_id, neighbor_id, {sql_round6(_SQL_COS)} AS cos
        FROM cand JOIN n nq ON nq.vec_id = q_id JOIN n nc ON nc.vec_id = neighbor_id
    )
    SELECT q_id, neighbor_id, cos, rank FROM (
        SELECT *, CAST(row_number() OVER (
            PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS INT) AS rank
        FROM s
    ) WHERE rank <= {_TOPK}
    """,
)
def ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN over k-means-TRAINED cells — the production IVF shape
    (ann_ivf's docstring promises "swap in k-means centroids without
    touching the query plan"; this operator keeps that promise, with the
    training itself inside the oracle: the same unrolled integer-exact
    chain as C15, so cells, probes and ranks are all bit-checked).

    Corpus cell assignment IS the final k-means assignment (row-local
    vs the one-row broadcast centroid matrix); each query probes its
    _IVFK_NPROBE nearest trained cells by the same exact integer
    distance (cid tie-break), and exact cosine ranks candidates within
    probed cells only.

    Scale shape: the trained matrix is localCheckpoint'ed ONCE (k x dim
    — model-sized) so the training chain runs exactly once even though
    both the corpus assignment and the query probes consume it; at
    deploy the corpus is written bucketed BY cell and a query reads
    nprobe/k of the data — IVF as partition pruning, now with learned
    partitions."""
    vq = _km_quantized(spark, sf_dir).localCheckpoint(eager=True)
    cm, _ = _km_train(vq)
    cm = cm.localCheckpoint(eager=True)  # model-sized; train once, use twice
    cells = _km_assign_mat(vq, cm).select(
        "vec_id", F.col("cluster").alias("cell")
    )
    qd = (
        vq.where(F.col("vec_id") < _Q_MAX)
        .crossJoin(F.broadcast(cm))
        .select(
            F.col("vec_id").alias("q_id"),
            F.explode(_km_cand_structs("cell")).alias("dc"),
        )
        .select("q_id", "dc.d", "dc.cell")
    )
    wq = Window.partitionBy("q_id").orderBy("d", "cell")
    qprobe = (
        qd.withColumn("pr", F.row_number().over(wq))
        .where(F.col("pr") <= _IVFK_NPROBE)
        .select("q_id", "cell")
    )
    cand = (
        cells.join(F.broadcast(qprobe), "cell")
        .where(F.col("vec_id") != F.col("q_id"))
        .select("q_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    n = _normed(spark, sf_dir)
    nq = n.select(F.col("vec_id").alias("q_id"), F.col("v").alias("qv"), F.col("nrm").alias("qn"))
    nc = n.select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("cv"), F.col("nrm").alias("cn"))
    cos = round6(dot("qv", "cv") / (F.col("qn") * F.col("cn")))
    wr = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), "neighbor_id")
    return (
        cand.join(nq, "q_id")
        .join(nc, "neighbor_id")
        .select("q_id", "neighbor_id", cos.alias("cos"))
        .withColumn("rank", F.row_number().over(wr).cast("int"))
        .where(F.col("rank") <= _TOPK)
    )


# ---------------------------------------------------------------------------
# C32. dedup_semantic (SemDeDup)

_SEM_TAU = 0.4  # within-cluster cosine threshold for semantic duplicates


@register(
    "dedup_semantic",
    oracle=f"""
    WITH {_SQL_NORMED},
    vq AS (
        SELECT vec_id,
               list_transform(v, x -> CAST(round(x * 1000000) AS BIGINT)) AS q
        FROM e WHERE len(v) > 0
    ),
    {_sql_km_iters()},
    cand AS (
        SELECT x.cluster, x.vec_id AS a_id, x.dist AS a_dist,
               y.vec_id AS b_id, y.dist AS b_dist
        FROM a{_KM_ASSIGN_STEPS} x
        JOIN a{_KM_ASSIGN_STEPS} y
          ON x.cluster = y.cluster AND x.vec_id < y.vec_id
    ),
    s AS (
        SELECT cluster, a_id, b_id, a_dist, b_dist,
               {sql_round6(_SQL_COS.replace('nq.', 'na.').replace('nc.', 'nb.'))} AS cos
        FROM cand JOIN n na ON na.vec_id = a_id JOIN n nb ON nb.vec_id = b_id
    )
    SELECT cluster, a_id, b_id, cos,
           CASE WHEN a_dist < b_dist THEN a_id
                WHEN b_dist < a_dist THEN b_id
                ELSE b_id END AS drop_id
    FROM s WHERE cos >= {_SEM_TAU}
    """,
)
def dedup_semantic(
    spark: SparkSession, sf_dir: str, sample_mod: int | None = None
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic near-duplicate pairs found
    WITHIN k-means clusters — cluster assignment is the blocking
    structure (instead of C9's random hyperplanes), so candidates are
    semantically pre-grouped and the expensive pairwise cosine runs only
    inside cells.  Output: within-cluster pairs with cos >= _SEM_TAU and
    the paper's survivor rule — keep the example FARTHER from the
    centroid (lower redundancy with the cluster's mode), i.e. drop_id =
    the closer member (exact integer centroid distance from the training
    chain; ties drop the larger vec_id).

    Scale shape: training reuses C15's integer-exact chain (row-local
    assignment vs one-row broadcast matrix, one partial-agg exchange per
    iteration); the final assignment is localCheckpoint'ed ONCE (narrow:
    id, cluster, dist) and pairs expand in-bucket (groupBy cluster +
    collect_list + row-local ordered-pair transform — one exchange,
    never a cluster self-join that reshuffles twice); vectors join back
    only for candidate pairs.  Pair volume is sum_c m_c² — k is the
    knob: grow k with n (k ≈ n / target_cell) exactly like lsh_bits_for
    grows code width, keeping per-cell work constant.  Everything is
    oracle-replayed: training, blocking, cosines and the survivor rule
    are all bit-checked in DuckDB.

    OUTPUT is ∝ duplicate mass² (sum_c m_c² inside cells) — replica
    stress measures that law.  ``sample_mod=k`` keeps the deterministic
    1/k vec_id-hash slice (C10's escape salt): the sampled run trains
    its own centroids on the slice (SemDeDup-on-a-shard, the paper's
    own scaling recipe), so it is a cost/production-path diagnostic,
    not a restriction of the full pair set."""
    vq = _km_quantized(spark, sf_dir)
    if sample_mod:
        vq = vq.where(
            hash64(F.col("vec_id").cast("string"), salt="bsample-")
            % sample_mod
            == 0
        )
    vq = vq.localCheckpoint(eager=True)
    _, assigned = _km_train(vq)
    cells = assigned.select("vec_id", "cluster", "dist").localCheckpoint(
        eager=True
    )  # narrow working set; training chain runs exactly once
    members = (
        cells.groupBy("cluster")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("vec_id", "dist"))
            ).alias("ms")
        )
        .where(F.size("ms") >= 2)
    )
    ms = F.col("ms")
    pairs = members.select(
        "cluster",
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(1), F.size(ms) - 1),
                    lambda i: F.transform(
                        F.slice(ms, i + 1, F.size(ms) - i),
                        lambda y: F.struct(
                            F.element_at(ms, i).getField("vec_id").alias("a_id"),
                            F.element_at(ms, i).getField("dist").alias("a_dist"),
                            y.getField("vec_id").alias("b_id"),
                            y.getField("dist").alias("b_dist"),
                        ),
                    ),
                )
            )
        ).alias("p"),
    ).select("cluster", "p.a_id", "p.a_dist", "p.b_id", "p.b_dist")
    n = _normed(spark, sf_dir)
    na = n.select(F.col("vec_id").alias("a_id"), F.col("v").alias("va"), F.col("nrm").alias("nra"))
    nb = n.select(F.col("vec_id").alias("b_id"), F.col("v").alias("vb"), F.col("nrm").alias("nrb"))
    cos = dot("va", "vb") / (F.col("nra") * F.col("nrb"))
    drop = (
        F.when(F.col("a_dist") < F.col("b_dist"), F.col("a_id"))
        .when(F.col("b_dist") < F.col("a_dist"), F.col("b_id"))
        .otherwise(F.col("b_id"))
    )
    return (
        pairs.join(na, "a_id")
        .join(nb, "b_id")
        .where(cos >= _SEM_TAU)
        .select(
            "cluster", "a_id", "b_id",
            round6(cos).alias("cos"),
            drop.alias("drop_id"),
        )
    )


# ---------------------------------------------------------------------------
# C36. embedding_outliers

_OUT_Z = 2.0  # |z| threshold on distance-to-label-centroid


@register(
    "embedding_outliers",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
               WHERE len(embedding) > 0),
    dims AS (
        SELECT label, t.i AS pos, v[t.i] AS x
        FROM e, (SELECT unnest(range(1, {_DIM + 1})) AS i) t
    ),
    cmean AS (
        SELECT label, pos,
               CAST((2 * CAST(SUM(CAST(x AS DECIMAL(27,6))) * 1000000 AS BIGINT)
                     + CASE WHEN SUM(CAST(x AS DECIMAL(27,6))) < 0
                            THEN -COUNT(*) ELSE COUNT(*) END)
                    // (2 * COUNT(*)) AS DOUBLE) / 1000000.0 AS c
        FROM dims GROUP BY label, pos
    ),
    cent AS (SELECT label, list(c ORDER BY pos) AS cv FROM cmean GROUP BY label),
    d AS (
        SELECT vec_id, e.label,
               {sql_round6(f'''sqrt(list_reduce(list_transform(range(1, {_DIM + 1}),
                   i -> (e.v[i] - cent.cv[i]) * (e.v[i] - cent.cv[i])),
                   (a, b) -> a + b))''')} AS dist
        FROM e JOIN cent ON e.label = cent.label
    ),
    stats AS (
        SELECT label,
               CAST(SUM(CAST(dist AS DECIMAL(27,6))) AS DOUBLE)
                   / COUNT(*) AS mean_d,
               CAST(SUM(CAST(dist * dist AS DECIMAL(38,12))) AS DOUBLE)
                   / COUNT(*) AS mean_d2
        FROM d GROUP BY label
    )
    SELECT vec_id, d.label, dist,
           {sql_round6('''CASE WHEN mean_d2 - mean_d * mean_d > 0
                      THEN (dist - mean_d) / sqrt(mean_d2 - mean_d * mean_d)
                      ELSE 0.0 END''')} AS z,
           CASE WHEN mean_d2 - mean_d * mean_d > 0
                THEN abs((dist - mean_d) / sqrt(mean_d2 - mean_d * mean_d))
                     > {_OUT_Z}
                ELSE FALSE END AS is_outlier
    FROM d JOIN stats ON d.label = stats.label
    """,
)
def embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding outliers: each vector's L2 distance to its
    label's centroid, z-scored against the label's distance distribution
    — the embedding-space mislabel/noise audit that runs before training
    on a labeled corpus (far-from-centroid points are label errors,
    off-domain strays, or adversarial junk).

    Scale shape: the centroid is a (label x dim) partial aggregate —
    posexplode fans each vector into {_DIM} bounded-key rows, so the one
    exchange carries a key space of labels x dims regardless of corpus
    size (the kmeans/PCA Gram trick).  Centroids and per-label stats are
    model-sized relations that BROADCAST back; distance and z are then
    row-local, so the corpus is scanned twice and shuffled never.  A
    per-label WINDOW would hot-spot one partition per label (labels are
    few by construction) — the broadcast-stats join is the skew-safe
    formulation.  Determinism: per-dim means round at 6dp, the distance
    fold runs in index order and rounds at 6dp, and the z denominator is
    decimal-exact moments — every value bit-stable across partitionings
    and engines; the var <= 0 degenerate (all-equal distances) pins z=0
    rather than NaN.  The narrow (vec_id, label, dist) relation is
    localCheckpoint'ed once: it feeds the stats aggregate AND the final
    join, and without the pin each consumer re-derives the whole
    scan+centroid lineage (8 scans observed; 2 after)."""
    e = spread(
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
        ),
        spark,
    ).where(F.size("v") > 0)
    # Centroid mean in exact integer micro-units with explicit
    # half-away-from-zero rounding: ROUND(double_quotient, 6) straddles
    # engine-specific half handling (one sf0.1 cell measured 0.003213 vs
    # 0.003214), while (2*num ± n) div (2n) is pure integer arithmetic —
    # bit-identical in Spark `div` and DuckDB `//` (both truncate toward
    # zero; the PCA renorm already relies on this).  The sign term only
    # matters when |num/n| >= 0.5, where the sum's sign is unambiguous.
    _c_expr = (
        "CAST((2 * CAST(SUM(CAST(x AS DECIMAL(27,6))) * 1000000 AS BIGINT)"
        "      + IF(SUM(CAST(x AS DECIMAL(27,6))) < 0, -COUNT(1), COUNT(1)))"
        "     div (2 * COUNT(1)) AS DOUBLE) / 1000000.0"
    )
    cmean = (
        e.select("label", F.posexplode("v").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(F.expr(_c_expr).alias("c"))
    )
    cent = cmean.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda s: s["c"]
        ).alias("cv")
    )
    dist = round6(
        F.sqrt(
            F.aggregate(
                F.zip_with("v", "cv", lambda x, c: (x - c) * (x - c)),
                F.lit(0.0),
                lambda a, b: a + b,
            )
        )
    )
    d = (
        e.join(F.broadcast(cent), "label")
        .select("vec_id", "label", dist.alias("dist"))
        .localCheckpoint()
    )
    stats = d.groupBy("label").agg(
        (
            F.sum(F.col("dist").cast("decimal(27,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mean_d"),
        (
            F.sum((F.col("dist") * F.col("dist")).cast("decimal(38,12)")).cast(
                "double"
            )
            / F.count(F.lit(1))
        ).alias("mean_d2"),
    )
    var = F.col("mean_d2") - F.col("mean_d") * F.col("mean_d")
    zraw = (F.col("dist") - F.col("mean_d")) / F.sqrt(var)
    return d.join(F.broadcast(stats), "label").select(
        "vec_id",
        "label",
        "dist",
        round6(F.when(var > 0, zraw).otherwise(F.lit(0.0))).alias("z"),
        F.when(var > 0, F.abs(zraw) > _OUT_Z).otherwise(F.lit(False)).alias(
            "is_outlier"
        ),
    )


# ---------------------------------------------------------------------------
# C39. knn_triangles

_TRI_KEYBASE = 1 << 32  # orientation key = degree * 2^32 + node id


@register(
    "knn_triangles",
    oracle=f"""
    WITH knn AS (SELECT src, dst FROM ({_KNN_ORACLE})),
    und AS (SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
            FROM knn),
    deg AS (SELECT node, CAST(count(*) AS BIGINT) AS d
            FROM (SELECT u AS node FROM und UNION ALL SELECT v AS node FROM und)
            GROUP BY node),
    keyed AS (SELECT du.d * {_TRI_KEYBASE} + u AS ku,
                     dv.d * {_TRI_KEYBASE} + v AS kv
              FROM und JOIN deg du ON du.node = u JOIN deg dv ON dv.node = v),
    orient AS (SELECT CASE WHEN ku < kv THEN ku ELSE kv END AS a,
                      CASE WHEN ku < kv THEN kv ELSE ku END AS b
               FROM keyed),
    wedge AS (SELECT e1.b AS a, e2.b AS b FROM orient e1 JOIN orient e2
              ON e1.a = e2.a AND e1.b < e2.b),
    tri AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles
            FROM wedge JOIN orient ON wedge.a = orient.a AND wedge.b = orient.b),
    dagg AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
                    CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS n_wedges
             FROM deg),
    ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM und)
    SELECT n_nodes, n_edges, n_wedges, n_triangles,
           {sql_round6('''CASE WHEN n_wedges > 0
                      THEN 3.0 * n_triangles / n_wedges ELSE 0.0 END''')}
               AS clustering
    FROM dagg, ne, tri
    """,
)
def knn_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + global clustering coefficient of the corpus kNN
    graph — the canonical MapReduce graph-analytics workload (Suri &
    Vassilvitskii 2011's MR triangle counting; Cohen 2009's MR graph
    kit), and the density audit for the near-dup neighborhood structure
    C21 builds (a high clustering coefficient means near-dup CLUSTERS,
    not chance pairs).

    Scale shape: every edge is oriented from its lower-(degree, id)
    endpoint — the degree-ordering trick that bounds wedge fanout by
    O(sqrt(m)) per node on ANY graph (here out-degree is additionally
    <= k by construction).  Wedges come from one groupBy(center) +
    in-bucket pair expansion over the oriented edges (the C6/C21
    machinery — one exchange, no edge self-join), and each triangle is
    counted exactly once as its unique oriented wedge + closing edge.
    The edge relation is localCheckpoint'ed once (model-sized: <= k*n
    rows) and all counts are integers — the whole result is exact, no
    float tolerance anywhere except the final 6dp clustering ratio."""
    from mapreduceimplementation_spark.operators.dedup import _bucket_pairs

    edges = knn_graph(spark, sf_dir).select("src", "dst")
    und = (
        edges.select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .distinct()
        .localCheckpoint()
    )
    deg = (
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # Orientation-key invariant: ku/kv = degree * 2^32 + node_id packs a
    # (degree, id) pair into ONE signed long so the same total order is a
    # single integer comparison in Spark and DuckDB alike.  That packing
    # is collision- and overflow-free ONLY while 0 <= node_id < 2^32 and
    # degree < 2^31 (degree <= n_nodes, so the binding constraint is the
    # id width).  assert_true makes a violating input FAIL LOUDLY instead
    # of silently miscounting triangles; it evaluates JVM-side per edge
    # (two long comparisons) and never fires on valid ids.
    id_ok = (
        (F.col("u") >= 0)
        & (F.col("u") < F.lit(_TRI_KEYBASE))
        & (F.col("v") >= 0)
        & (F.col("v") < F.lit(_TRI_KEYBASE))
    )
    keyed = (
        und.join(deg.select(F.col("node").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("d").alias("dv")), "v")
        .where(
            F.assert_true(
                id_ok, F.lit("knn_triangles: node id >= 2^32 breaks key packing")
            ).isNull()
        )
        .select(
            (F.col("du") * _TRI_KEYBASE + F.col("u")).alias("ku"),
            (F.col("dv") * _TRI_KEYBASE + F.col("v")).alias("kv"),
        )
    )
    orient = keyed.select(
        F.least("ku", "kv").alias("a"), F.greatest("ku", "kv").alias("b")
    ).localCheckpoint()
    wedges = _bucket_pairs(orient, ["a"], ["b"]).select(
        F.col("a.b").alias("wa"), F.col("b.b").alias("wb")
    )
    tri = wedges.join(
        orient, (F.col("wa") == F.col("a")) & (F.col("wb") == F.col("b"))
    ).agg(F.count(F.lit(1)).alias("n_triangles"))
    dagg = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(F.expr("d * (d - 1) div 2")).alias("n_wedges"),
    )
    ne = und.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        dagg.join(F.broadcast(ne))
        .join(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            round6(
                F.when(
                    F.col("n_wedges") > 0,
                    3.0 * F.col("n_triangles") / F.col("n_wedges"),
                ).otherwise(F.lit(0.0)),
            ).alias("clustering"),
        )
    )


# ---------------------------------------------------------------------------
# C47. embedding_quantize — int8 scalar quantization (per-dim min/max)

_QUANT_LEVELS = 256  # 8-bit codes 0..255


@register(
    "embedding_quantize",
    oracle=f"""
    WITH e AS (
        SELECT vec_id, embedding FROM embeddings WHERE len(embedding) > 0
    ),
    dims AS (
        SELECT list(mn ORDER BY i) AS mins, list(mx ORDER BY i) AS maxs
        FROM (
            SELECT i,
                   CAST(min(embedding[i + 1]) AS DOUBLE) AS mn,
                   CAST(max(embedding[i + 1]) AS DOUBLE) AS mx
            FROM e, UNNEST(range(0, len(embedding))) t(i)
            GROUP BY i
        )
    )
    SELECT vec_id,
           array_to_string(
               list_transform(
                   list_zip(embedding, mins, maxs),
                   z -> CAST(CASE
                       WHEN CAST(z[3] AS DOUBLE) = CAST(z[2] AS DOUBLE)
                       THEN 0
                       ELSE LEAST({_QUANT_LEVELS - 1}, FLOOR(
                           (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE))
                           * {_QUANT_LEVELS - 1}.0
                           / (CAST(z[3] AS DOUBLE) - CAST(z[2] AS DOUBLE))
                       )) END AS BIGINT)),
               ',') AS codes_fp,
           CAST(len(embedding) AS INT) AS dim
    FROM e, dims
    """,
)
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization of the embedding column: per-dimension
    corpus [min, max] ranges, each float mapped to an 8-bit code by
    floor((x - min) · 255 / (max - min)) — the 4× storage shrink (plus
    SIMD-friendly integer distance) every billion-vector ANN index
    applies before sharding (FAISS SQ8 / product-quantization's scalar
    little sibling).  Codes are emitted as a comma-joined fingerprint
    (the C13 unit_fp discipline for array-valued results).

    Engine exactness: code assignment uses FLOOR, never round() (Spark
    HALF_UP vs DuckDB half-even would flip boundary codes); both engines
    evaluate the identical (x-min)*255/(max-min) double expression on
    identical float32 inputs, so the floor argument is bit-equal.  A
    constant dimension (max == min) quantizes to code 0.  Heterogeneous
    dims FAIL LOUDLY (assert_true against the stats row): DuckDB's
    list_zip NULL-pads short vectors while Spark's transform stops at
    the vector's own length, so mixed-dim parity would silently hinge on
    NULL-skipping — refusing is the packed-key guard discipline.

    Scale shape: the per-dim stats are ONE partial-agg exchange of
    (dim, min, max) pairs — dim-count-sized regardless of corpus size —
    collapsed to a single broadcast row of two arrays; quantization is
    then a row-local transform over the vector (codegen, no Python); the
    corpus is scanned once and never shuffled.  Reconstruction-error
    bounds are pytest-pinned (quantizer contract, not SQL surface)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").alias("e")
    )
    emb = emb.where(F.size("e") > 0)
    dims = (
        emb.select(F.posexplode("e").alias("i", "x"))
        .groupBy("i")
        .agg(
            F.min("x").cast("double").alias("mn"),
            F.max("x").cast("double").alias("mx"),
        )
        .groupBy()
        .agg(
            F.array_sort(F.collect_list(F.struct("i", "mn"))).alias("_mn"),
            F.array_sort(F.collect_list(F.struct("i", "mx"))).alias("_mx"),
        )
        .select(
            F.transform("_mn", lambda s: s["mn"]).alias("mins"),
            F.transform("_mx", lambda s: s["mx"]).alias("maxs"),
        )
    )
    mn = lambda i: F.element_at("mins", i + 1)  # noqa: E731
    mx = lambda i: F.element_at("maxs", i + 1)  # noqa: E731
    code = lambda x, i: F.when(  # noqa: E731
        mx(i) == mn(i), F.lit(0).cast("long")
    ).otherwise(
        F.least(
            F.lit(_QUANT_LEVELS - 1).cast("long"),
            F.floor(
                (x.cast("double") - mn(i))
                * (_QUANT_LEVELS - 1)
                / (mx(i) - mn(i))
            ),
        )
    )
    return (
        emb.join(F.broadcast(dims))
        .where(
            F.assert_true(
                F.size("e") == F.size("mins"),
                F.lit(
                    "embedding_quantize: mixed embedding dims "
                    "(vector length != corpus stats width)"
                ),
            ).isNull()
        )
        .select(
            "vec_id",
            F.array_join(
                F.transform("e", lambda x, i: code(x, i).cast("string")), ","
            ).alias("codes_fp"),
            F.size("e").alias("dim"),
        )
    )


# ---------------------------------------------------------------------------
# C60. embedding_pq — product quantization (FAISS IVFPQ's code stage)

_PQ_M = 8        # subspaces
_PQ_DSUB = 8     # dims per subspace
_PQ_DIM = _PQ_M * _PQ_DSUB
_PQ_K = 16       # codewords per subspace (4-bit codes)


def _sql_pq_dist() -> str:
    """Left-assoc chain of the 8 squared-diff terms for subspace m (column
    ``m`` from UNNEST) — identical shape to the Spark fold so doubles are
    bit-equal.  Expects the vector relation aliased ``e`` and the codebook
    aliased ``cb`` (shared by the C60 oracle's dists CTE, C62's pqdist
    twin, and C62's query-LUT — one distance definition)."""
    terms = [
        f"(CAST(e.embedding[m * {_PQ_DSUB} + {j + 1}] AS DOUBLE)"
        f" - CAST(cb.ce[m * {_PQ_DSUB} + {j + 1}] AS DOUBLE))"
        f" * (CAST(e.embedding[m * {_PQ_DSUB} + {j + 1}] AS DOUBLE)"
        f" - CAST(cb.ce[m * {_PQ_DSUB} + {j + 1}] AS DOUBLE))"
        for j in range(_PQ_DSUB)
    ]
    return " + ".join(terms)


def _pq_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings (vec_id, e) with the C60 dim guard: non-empty vectors,
    loud failure on any length != {_PQ_DIM}."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").alias("e")
    )
    return emb.where(F.size("e") > 0).where(
        F.assert_true(
            F.size("e") == _PQ_DIM,
            F.lit(f"embedding_pq: expected dim {_PQ_DIM} (got a different length)"),
        ).isNull()
    )


def _pq_codebook_row(emb: DataFrame) -> DataFrame:
    """ONE-row codebook relation (cb: array<struct<k,ce>>, k ascending):
    the {_PQ_K} corpus vectors with the smallest hash64('pq'||vec_id),
    selected by distributed top-K (TakeOrderedAndProject) and collapsed for
    broadcast.  Shared by C60 and C62 so the codebook cannot drift."""
    seeds = (
        emb.select(
            "e",
            hash64(F.concat(F.lit("pq"), F.col("vec_id").cast("string"))).alias("h"),
            "vec_id",
        )
        .orderBy("h", "vec_id")
        .limit(_PQ_K)
    )
    return (
        seeds.groupBy()
        .agg(F.array_sort(F.collect_list(F.struct("h", "vec_id", "e"))).alias("_s"))
        .select(
            F.transform(
                "_s", lambda s, i: F.struct(i.cast("int").alias("k"), s["e"].alias("ce"))
            ).alias("cb")
        )
    )


def _pq_sub_dist(x: Column | str, ce: Column, m: Column) -> Column:
    """Squared L2 between subspace m of vector column ``x`` and of codeword
    ``ce`` — the Spark twin of ``_sql_pq_dist`` (same left-assoc chain)."""
    xc = F.col(x) if isinstance(x, str) else x
    d = None
    for j in range(_PQ_DSUB):
        idx = m * _PQ_DSUB + F.lit(j)  # 0-based for F.get
        diff = F.get(xc, idx).cast("double") - F.get(ce, idx).cast("double")
        t = diff * diff
        d = t if d is None else d + t
    return d


def _pq_best(x: Column | str, m: Column) -> Column:
    """Argmin fold over the broadcast ``cb`` array for subspace m of vector
    column ``x``: struct(d = best distance, k = codeword id); ties keep the
    smallest k (first strict improvement wins)."""
    return F.aggregate(
        "cb",
        F.struct(
            F.lit(None).cast("double").alias("d"), F.lit(-1).cast("int").alias("k")
        ),
        lambda acc, c: F.when(
            acc["d"].isNull() | (_pq_sub_dist(x, c["ce"], m) < acc["d"]),
            F.struct(_pq_sub_dist(x, c["ce"], m).alias("d"), c["k"].alias("k")),
        ).otherwise(acc),
    )


def _pq_codebook_np(emb: DataFrame):
    """The codebook as a (K, {dim}) float64 NumPy matrix, k ascending —
    COLLECTED for the Arrow encode kernel.  Model-sized driver traffic
    ({K} x {dim} float32s, the PCA-vector/convergence-scalar class), and
    the float32 -> float64 conversion is exact, matching .cast('double')."""
    import numpy as np

    rows = _pq_codebook_row(emb).collect()
    cb = rows[0]["cb"] if rows else []
    if not cb:
        return np.zeros((0, _PQ_DIM), dtype=np.float64)
    # array_sort on (h, vec_id) + positional k => already k-ascending
    return np.array([list(c["ce"]) for c in cb], dtype=np.float64)


def _make_pq_encode_kernel(cb, with_err: bool):
    """mapInArrow kernel assigning every vector its {M} PQ codes (and,
    for C60, the reconstruction error) vectorized in NumPy — replaces a
    per-row interpreted fold that evaluated the 8-term subspace distance
    TWICE per codeword per subspace (r10; guide §4.2).

    EXACTNESS (differential-pytest-pinned against the fold form):
    - per (row, m, k) the distance accumulates j-ascending in-place —
      the identical left-assoc double chain (the 0.0 seed is exact:
      squared diffs are never -0.0);
    - np.argmin keeps the FIRST minimum = smallest k, the fold's
      first-strict-improvement rule;
    - the C60 error folds the m distances in m order from 0.0 and
      floors the 1e6 product, op-for-op the expression form;
    - non-finite inputs have no exact twin (the fold's NaN never beats
      acc.d) — asserted absent, loudly."""

    def kernel(it):
        import numpy as np
        import pyarrow as pa

        k_n = cb.shape[0]
        for batch in it:
            ids = np.asarray(batch.column(0), dtype=np.int64)
            col = batch.column(1)
            if len(ids) == 0:
                continue
            assert k_n > 0, "embedding_pq: empty codebook with data rows"
            flat = np.asarray(col.flatten(), dtype=np.float64)
            assert np.isfinite(flat).all(), "embedding_pq: non-finite dim"
            v = flat.reshape(-1, _PQ_DIM)  # _pq_emb pins the length
            acc = np.zeros((v.shape[0], _PQ_M, k_n), dtype=np.float64)
            for m in range(_PQ_M):
                for j in range(_PQ_DSUB):
                    d = v[:, m * _PQ_DSUB + j, None] - cb[None, :, m * _PQ_DSUB + j]
                    acc[:, m, :] += d * d
            ks = np.argmin(acc, axis=2)
            if not with_err:
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(ids, type=pa.int64()),
                        pa.array(
                            ks.astype(np.int32).tolist(),
                            type=pa.list_(pa.int32()),
                        ),
                    ],
                    names=["neighbor_id", "pq"],
                )
                continue
            ds = np.take_along_axis(acc, ks[:, :, None], axis=2)[:, :, 0]
            err = np.zeros(v.shape[0], dtype=np.float64)
            for m in range(_PQ_M):
                err += ds[:, m]
            recon = np.floor(err * 1000000.0).astype(np.int64)
            fps = [",".join(map(str, row)) for row in ks.tolist()]
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids, type=pa.int64()),
                    pa.array(fps, type=pa.string()),
                    pa.array(recon, type=pa.int64()),
                ],
                names=["vec_id", "pq_fp", "recon_err_micro"],
            )

    return kernel


@register(
    "embedding_pq",
    oracle=f"""
    WITH e AS (
        SELECT vec_id, embedding FROM embeddings WHERE len(embedding) > 0
    ),
    seeds AS (
        SELECT embedding AS ce, vec_id,
               {sql_hash64("'pq' || CAST(vec_id AS VARCHAR)")} AS h
        FROM e
    ),
    cb AS (
        SELECT CAST(rn - 1 AS INT) AS k, ce FROM (
            SELECT ce, row_number() OVER (ORDER BY h, vec_id) AS rn FROM seeds
        ) WHERE rn <= {_PQ_K}
    ),
    dists AS (
        SELECT e.vec_id, t.m, cb.k,
               ({_sql_pq_dist()}) AS dist
        FROM e
        CROSS JOIN cb
        CROSS JOIN UNNEST(range(0, {_PQ_M})) t(m)
    ),
    codes AS (
        SELECT vec_id, m, k, dist FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id, m ORDER BY dist, k) AS rn
            FROM dists
        ) WHERE rn = 1
    )
    SELECT vec_id,
           string_agg(CAST(k AS VARCHAR), ',' ORDER BY m) AS pq_fp,
           CAST(FLOOR((0.0 + {" + ".join(
               f"max(CASE WHEN m = {mm} THEN dist END)" for mm in range(_PQ_M)
           )}) * 1000000.0) AS BIGINT) AS recon_err_micro
    FROM codes
    GROUP BY vec_id
    """,
)
def embedding_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (Jégou et al., TPAMI'11 — the code stage of
    FAISS IVFPQ): split each {dim}-dim vector into {M} subspaces of {dsub}
    dims, assign each subvector to its nearest of {K} codewords by squared
    L2, emit the {M}-byte code string plus the reconstruction error.  PQ is
    the billion-vector memory play: 64 floats -> 8 nibbles (64x) while
    preserving approximate distances via per-subspace lookup tables.

    Codebook derivation is deterministic and engine-portable: the {K}
    codewords of subspace m are the m-th subvectors of the {K} corpus
    vectors with the smallest hash64('pq' || vec_id) — a k-min seed sample
    (the real pipeline would run per-subspace k-means; the seed sample
    keeps the oracle SQL-expressible while exercising the identical
    assignment plan).  Ties on distance break toward the smallest codeword
    id on both engines (fold keeps the first strict improvement; oracle
    orders by (dist, k)).

    Engine exactness: squared-L2 per subspace is the identical left-assoc
    chain of 8 double squared-diff terms on float32 inputs (bit-equal — no
    pow(), no reordering); the total error folds subspace distances in m
    order from 0.0 and is floored to integer micro-units (no ROUND
    half-mode hazard).

    Scale shape: the codebook is a distributed top-{K} (TakeOrderedAndProject
    — no global sort, no single-partition window) collapsed to ONE row and
    broadcast; assignment is then row-local fold over the 16-struct array
    inside codegen — the corpus is scanned once, never shuffled, and the
    only exchange is the {K}-row seed selection.  At 100 TB the plan is
    scan + broadcast-nested-loop of one row, exactly how a PQ encoder
    shards."""
    emb = _pq_emb(spark, sf_dir)
    cb = _pq_codebook_np(emb)
    return spread(emb.select("vec_id", "e"), spark).mapInArrow(
        _make_pq_encode_kernel(cb, with_err=True),
        "vec_id long, pq_fp string, recon_err_micro long",
    )


# ---------------------------------------------------------------------------
# C62. ann_ivfpq — IVF cell pruning + PQ asymmetric-distance ranking

_SQL_PQ_CTES = f"""
    pqe AS (
        SELECT vec_id, embedding FROM embeddings WHERE len(embedding) > 0
    ),
    pqcb AS (
        SELECT CAST(rn - 1 AS INT) AS k, ce FROM (
            SELECT embedding AS ce, row_number() OVER (
                ORDER BY {sql_hash64("'pq' || CAST(vec_id AS VARCHAR)")}, vec_id
            ) AS rn
            FROM pqe
        ) WHERE rn <= {_PQ_K}
    ),
    pqcode AS (
        SELECT vec_id, m, k FROM (
            SELECT e.vec_id, t.m, cb.k, ({_sql_pq_dist()}) AS dist,
                   row_number() OVER (
                       PARTITION BY e.vec_id, t.m
                       ORDER BY ({_sql_pq_dist()}), cb.k) AS rn
            FROM pqe e
            CROSS JOIN pqcb cb
            CROSS JOIN UNNEST(range(0, {_PQ_M})) t(m)
        ) WHERE rn = 1
    ),
    pqlut AS (
        SELECT e.vec_id AS q_id, t.m, cb.k, ({_sql_pq_dist()}) AS qd
        FROM pqe e
        CROSS JOIN pqcb cb
        CROSS JOIN UNNEST(range(0, {_PQ_M})) t(m)
        WHERE e.vec_id < {_Q_MAX}
    )
"""


@register(
    "ann_ivfpq",
    oracle=f"""
    WITH {_SQL_NORMED},
    {_SQL_IVF_CAND_CTES},
    {_SQL_PQ_CTES},
    adc AS (
        SELECT c.q_id, c.neighbor_id,
               CAST(floor((0.0 + {" + ".join(
                   f"max(CASE WHEN pc.m = {mm} THEN l.qd END)"
                   for mm in range(_PQ_M)
               )}) * 1000000.0) AS BIGINT) AS adc_micro
        FROM cand c
        JOIN pqcode pc ON pc.vec_id = c.neighbor_id
        JOIN pqlut l ON l.q_id = c.q_id AND l.m = pc.m AND l.k = pc.k
        GROUP BY c.q_id, c.neighbor_id
    )
    SELECT q_id, neighbor_id, adc_micro, rank FROM (
        SELECT *, CAST(row_number() OVER (
            PARTITION BY q_id ORDER BY adc_micro, neighbor_id) AS INT) AS rank
        FROM adc
    ) WHERE rank <= {_TOPK}
    """,
)
def ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN (the FAISS IVFPQ search path, Jégou TPAMI'11): prune the
    corpus to the query's {nprobe} best IVF cells (C11b's shared candidate
    machinery), then rank candidates by PQ ASYMMETRIC distance — the query
    precomputes a {M}x{K} lookup table of exact subspace distances to every
    codeword, and each candidate costs {M} table lookups on its 4-bit codes
    instead of a {dim}-dim float scan.  This is THE billion-vector search
    recipe: cells prune I/O, codes shrink memory 64x, the LUT makes
    per-candidate cost independent of dimensionality.

    Correctness shape: candidates come from the SAME _SQL_IVF_CAND_CTES /
    _ivf_candidates fragment as C11b/C53 (cannot drift); codes and the LUT
    both state distances through the SAME _sql_pq_dist / _pq_sub_dist
    left-assoc chain as C60 (one distance definition); the ADC total folds
    the {M} lookups in m-order from 0.0 and floors to integer micro-units,
    so ranking keys are bit-stable; ties break on neighbor_id.  The
    oracle states the whole pipeline literally (cells -> nprobe -> codes
    -> LUT join -> pivoted m-order sum).

    Scale shape: the corpus is read twice (cell assignment off the normed
    scan; ONE checkpointed scan shared by codebook seeds, codes and LUT —
    all row-local against broadcast constants); the codebook is a {K}-row
    top-K collapsed to one broadcast row; the per-query LUT is {Q} rows of
    {M}x{K} doubles broadcast into the candidate join; candidates flow
    through a broadcast equi-join on cell then two broadcast joins — the
    only corpus-sized exchange is the final per-query top-k window over
    candidates, which production caps per-cell.  At 100 TB the corpus is
    written bucketed by cell with codes as a column: a query reads
    nprobe/{K_ivf} of the data and never touches raw vectors."""
    n = _normed(spark, sf_dir)
    cand = _ivf_candidates(n)
    # three consumers (codebook seeds, corpus codes, query LUT) — checkpoint
    # so the corpus parquet is read once, not re-scanned per consumer
    emb = _pq_emb(spark, sf_dir).localCheckpoint()
    cb_row = _pq_codebook_row(emb)
    codes_df = emb.select("vec_id", "e").mapInArrow(
        _make_pq_encode_kernel(_pq_codebook_np(emb), with_err=False),
        "neighbor_id long, pq array<int>",
    )
    qlut = (
        emb.where(F.col("vec_id") < _Q_MAX)
        .crossJoin(F.broadcast(cb_row))
        .select(
            F.col("vec_id").alias("q_id"),
            F.transform(
                F.sequence(F.lit(0), F.lit(_PQ_M - 1)),
                lambda m: F.transform(
                    "cb", lambda c: _pq_sub_dist("e", c["ce"], m)
                ),
            ).alias("lut"),
        )
    )
    adc = (
        cand.join(codes_df, "neighbor_id")
        .join(F.broadcast(qlut), "q_id")
        .select(
            "q_id",
            "neighbor_id",
            F.floor(
                F.aggregate(
                    F.sequence(F.lit(0), F.lit(_PQ_M - 1)),
                    F.lit(0.0),
                    lambda acc, m: acc
                    + F.get(F.get("lut", m), F.get("pq", m)),
                )
                * 1000000.0
            )
            .cast("long")
            .alias("adc_micro"),
        )
    )
    w = Window.partitionBy("q_id").orderBy("adc_micro", "neighbor_id")
    return (
        adc.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= _TOPK)
        .select("q_id", "neighbor_id", "adc_micro", "rank")
    )


# ---------------------------------------------------------------------------
# C66. embedding_hard_negatives — triplet mining for metric learning

#: hard negatives kept per probe (the triplet-loss batch's negative pool)
_HN_K = 5


def _normed_labeled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """_normed plus the label column (same scan, same norm definition)."""
    emb = spread(
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id",
            "label",
            F.col("embedding").cast("array<double>").alias("v"),
        ),
        spark,
    )
    return emb.where(F.size("v") > 0).select(
        "vec_id", "label", "v", l2_norm("v").alias("nrm")
    )

#: DuckDB: the labeled twin of _SQL_NORMED, DERIVED from it (one norm
#: definition — a drifted copy would change which vectors tie)
_SQL_NORMED_L = _SQL_NORMED.replace(
    "SELECT vec_id, embedding", "SELECT vec_id, label, embedding"
).replace("SELECT vec_id, v,", "SELECT vec_id, label, v,")


@register(
    "embedding_hard_negatives",
    oracle=f"""
    WITH {_SQL_NORMED_L},
    cand AS (
        SELECT nq.vec_id AS q_id, nq.label AS q_label,
               nc.vec_id AS neighbor_id, nc.label AS n_label,
               (nc.label = nq.label) AS same,
               {sql_round6(_SQL_COS)} AS cos
        FROM n nq JOIN n nc
          ON nq.vec_id < {_Q_MAX} AND nc.vec_id <> nq.vec_id
    ),
    ranked AS (
        SELECT *, CAST(row_number() OVER (
            PARTITION BY q_id, same ORDER BY cos DESC, neighbor_id
        ) AS INT) AS rank FROM cand
    ),
    pos AS (
        SELECT q_id, q_label, neighbor_id AS pos_id, cos AS pos_cos
        FROM ranked WHERE same AND rank = 1
    ),
    neg AS (
        SELECT q_id, neighbor_id AS neg_id, n_label AS neg_label,
               cos AS neg_cos, rank AS neg_rank
        FROM ranked WHERE NOT same AND rank <= {_HN_K}
    )
    SELECT p.q_id, p.q_label, p.pos_id, p.pos_cos,
           g.neg_id, g.neg_label, g.neg_cos, g.neg_rank,
           CAST(CASE WHEN (p.pos_cos - g.neg_cos) * 1000000.0 < 0
                THEN -floor(-((p.pos_cos - g.neg_cos) * 1000000.0) + 0.5)
                ELSE floor((p.pos_cos - g.neg_cos) * 1000000.0 + 0.5)
                END AS BIGINT) AS margin_micro,
           g.neg_cos >= p.pos_cos AS is_violation
    FROM pos p JOIN neg g ON p.q_id = g.q_id
    """,
)
def embedding_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative triplet mining (Schroff et al. CVPR'15 FaceNet;
    Xiong et al. ICLR'21 ANCE): for each probe (vec_id < {_Q_MAX}), the
    nearest SAME-label vector (the positive) and the {_HN_K} nearest
    DIFFERENT-label vectors (the hard negatives), with the triplet
    margin cos(pos) − cos(neg) and a violation flag (negative at least
    as close as the positive) — exactly the pairs a contrastive /
    triplet training batch is built from, and the curriculum signal
    ANCE refreshes per checkpoint.  Probes with no same-label peer have
    no positive and emit no triplets (inner join, documented).

    Determinism: cosines through the SAME round6(dot/norms) chain as C10
    (one definition); ranks tie-break on neighbor_id; the margin is
    emitted as a half-away-floored micro-unit BIGINT (difference of two
    certified 6dp doubles — identical IEEE ops both engines).

    Scale shape: ONE corpus scan streamed against the broadcast probe
    set (C10's O(|Q|·n) BroadcastNestedLoopJoin by design — at real
    scale the candidate source swaps to C11b/C62's IVF buckets, same
    downstream); positives and negatives come from ONE window pass
    partitioned (q_id, same) — probe-bounded exchange — and the
    (|Q|·(1+{_HN_K}))-row survivor relation localCheckpoints before the
    tiny pos⋈neg broadcast join, so the corpus is never re-scanned."""
    n = _normed_labeled(spark, sf_dir)
    q = n.select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
    ).where(F.col("q_id") < _Q_MAX)
    cos = round6(dot("v", "qv") / (F.col("nrm") * F.col("qnrm")))
    cand = (
        n.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "q_label",
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("n_label"),
            (F.col("label") == F.col("q_label")).alias("same"),
            cos.alias("cos"),
        )
    )
    w = Window.partitionBy("q_id", "same").orderBy(
        F.col("cos").desc(), "neighbor_id"
    )
    survivors = (
        cand.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(
            (F.col("same") & (F.col("rank") == 1))
            | (~F.col("same") & (F.col("rank") <= _HN_K))
        )
        .localCheckpoint(eager=False)
    )
    pos = survivors.where("same").select(
        "q_id",
        "q_label",
        F.col("neighbor_id").alias("pos_id"),
        F.col("cos").alias("pos_cos"),
    )
    neg = survivors.where(~F.col("same")).select(
        "q_id",
        F.col("neighbor_id").alias("neg_id"),
        F.col("n_label").alias("neg_label"),
        F.col("cos").alias("neg_cos"),
        F.col("rank").alias("neg_rank"),
    )
    m = (F.col("pos_cos") - F.col("neg_cos")) * 1000000.0
    margin = (
        F.when(m < 0, -F.floor(-m + F.lit(0.5)))
        .otherwise(F.floor(m + F.lit(0.5)))
        .cast("long")
    )
    return pos.join(F.broadcast(neg), "q_id").select(
        "q_id",
        "q_label",
        "pos_id",
        "pos_cos",
        "neg_id",
        "neg_label",
        "neg_cos",
        "neg_rank",
        margin.alias("margin_micro"),
        (F.col("neg_cos") >= F.col("pos_cos")).alias("is_violation"),
    )


# ---------------------------------------------------------------------------
# C67. embedding_matryoshka_eval — truncated-dimension recall audit (MRL)

#: audited truncation depths; 64 is the full dimension (its recall is
#: 1.0 by construction — kept as the in-result self-check row)
_MRL_DIMS = (8, 16, 32, 64)


@register(
    "embedding_matryoshka_eval",
    oracle=f"""
    WITH {_SQL_NORMED},
    dims AS (SELECT unnest([{", ".join(str(d) for d in _MRL_DIMS)}])
             AS trunc_dim),
    cand AS (
        SELECT nq.vec_id AS q_id, nc.vec_id AS neighbor_id, d.trunc_dim,
               {sql_round6(
                   "list_reduce(list_transform(range(1, d.trunc_dim + 1),"
                   " i -> nq.v[i] * nc.v[i]), (a, b) -> a + b)"
                   " / (sqrt(list_reduce(list_transform("
                   "range(1, d.trunc_dim + 1), i -> nq.v[i] * nq.v[i]),"
                   " (a, b) -> a + b))"
                   " * sqrt(list_reduce(list_transform("
                   "range(1, d.trunc_dim + 1), i -> nc.v[i] * nc.v[i]),"
                   " (a, b) -> a + b)))")} AS cos
        FROM n nq JOIN n nc
          ON nq.vec_id < {_Q_MAX} AND nc.vec_id <> nq.vec_id
        CROSS JOIN dims d
    ),
    ranked AS (
        SELECT q_id, trunc_dim, neighbor_id FROM (
            SELECT *, row_number() OVER (
                PARTITION BY q_id, trunc_dim
                ORDER BY cos DESC, neighbor_id) AS rank
            FROM cand
        ) WHERE rank <= {_TOPK}
    ),
    fullk AS (
        SELECT q_id, neighbor_id, TRUE AS in_full
        FROM ranked WHERE trunc_dim = {_DIM}
    )
    SELECT r.q_id, r.trunc_dim,
           CAST(count(*) AS BIGINT) AS n_top,
           CAST(sum(CASE WHEN f.in_full THEN 1 ELSE 0 END) AS BIGINT)
               AS n_overlap,
           (CAST(sum(CASE WHEN f.in_full THEN 1 ELSE 0 END) AS BIGINT)
               * 1000000) // {_TOPK} AS recall_ppm
    FROM ranked r LEFT JOIN fullk f
      ON r.q_id = f.q_id AND r.neighbor_id = f.neighbor_id
    GROUP BY r.q_id, r.trunc_dim
    """,
)
def embedding_matryoshka_eval(
    spark: SparkSession, sf_dir: str, *, checkpoint: bool = True
) -> DataFrame:
    """Matryoshka truncation audit (Kusupati et al. NeurIPS'22, MRL —
    the eval run before shipping truncated embeddings): per probe and
    truncation depth d ∈ {_MRL_DIMS}, exact top-{_TOPK} by cosine over
    the FIRST d dimensions vs the full-{_DIM} top-{_TOPK}, reporting
    overlap and recall@{_TOPK} in exact ppm — the number that decides
    whether a 64→16 storage cut (4× memory, 4× ADC speed) is safe for a
    given corpus.  The d={_DIM} row is recall 1.0 by construction and
    stays in the result as a self-check (C48/C53 audit discipline:
    measure the shipped ranking, and carry a row that must be perfect).

    Determinism: truncated cosines through the same left-fold/round6
    chain as C10 (at d={_DIM} the formula IS C10's, slice norms equal
    full norms); ranks tie-break on neighbor_id; recall is an exact
    BIGINT div — no float fraction at the frontier.

    Scale shape: ONE corpus stream against the broadcast probe set
    computes all {len(_MRL_DIMS)} depths row-locally (the |Q|·n BNLJ by
    design, C10's documented baseline shape); the per-(probe, depth)
    window moves only candidate rows; the (|Q|·{len(_MRL_DIMS)}·{_TOPK})-row
    survivor relation localCheckpoints before the tiny self-join
    against its own d={_DIM} slice.  ``checkpoint=False`` (tests only)
    exposes the full lineage to plan gates."""
    n = _normed(spark, sf_dir)
    q = n.select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"),
    ).where(F.col("q_id") < _Q_MAX)
    depth_cos = [
        F.struct(
            F.lit(d).cast("int").alias("trunc_dim"),
            round6(
                dot(F.slice("v", 1, d), F.slice("qv", 1, d))
                / (
                    l2_norm(F.slice("v", 1, d))
                    * l2_norm(F.slice("qv", 1, d))
                )
            ).alias("cos"),
        )
        for d in _MRL_DIMS
    ]
    cand = (
        n.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("neighbor_id"),
            F.explode(F.array(*depth_cos)).alias("dc"),
        )
        .select("q_id", "neighbor_id", "dc.trunc_dim", "dc.cos")
    )
    w = Window.partitionBy("q_id", "trunc_dim").orderBy(
        F.col("cos").desc(), "neighbor_id"
    )
    ranked = (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _TOPK)
        .select("q_id", "trunc_dim", "neighbor_id")
    )
    if checkpoint:
        ranked = ranked.localCheckpoint(eager=False)
    full = ranked.where(F.col("trunc_dim") == _DIM).select(
        "q_id", "neighbor_id", F.lit(True).alias("in_full")
    )
    return (
        ranked.join(F.broadcast(full), ["q_id", "neighbor_id"], "left")
        .groupBy("q_id", "trunc_dim")
        .agg(
            F.count(F.lit(1)).alias("n_top"),
            F.sum(F.when(F.col("in_full"), 1).otherwise(0))
            .cast("long")
            .alias("n_overlap"),
        )
        .select(
            "q_id",
            "trunc_dim",
            "n_top",
            "n_overlap",
            F.expr(f"(n_overlap * 1000000L) div {_TOPK}").alias(
                "recall_ppm"
            ),
        )
    )


# ---------------------------------------------------------------------------
# C68. corpus_semantic_decontaminate — embedding-space benchmark overlap

#: the benchmark sample: vectors with vec_id < _SD_Q play the held-out
#: eval set; corpus = everything else
_SD_Q = 16
#: contamination threshold on exact cosine — aligned with C9's near-dup
#: grain (_DE_TAU) so "contaminated" means "would have been caught as a
#: near-duplicate of an eval item"
_SD_TAU = _DE_TAU


@register(
    "corpus_semantic_decontaminate",
    oracle=f"""
    WITH {_SQL_NORMED},
    pair AS (
        SELECT nc.vec_id, nq.vec_id AS probe_id,
               {sql_round6(_SQL_COS)} AS cos
        FROM n nc JOIN n nq
          ON nq.vec_id < {_SD_Q} AND nc.vec_id >= {_SD_Q}
    ),
    best AS (
        SELECT vec_id, probe_id AS best_probe, cos AS max_cos FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id ORDER BY cos DESC, probe_id) AS rnk
            FROM pair
        ) WHERE rnk = 1
    ),
    above AS (
        SELECT vec_id,
               CAST(sum(CASE WHEN cos >= {_SD_TAU} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_above
        FROM pair GROUP BY vec_id
    )
    SELECT b.vec_id, b.best_probe, b.max_cos, a.n_above,
           b.max_cos >= {_SD_TAU} AS contaminated
    FROM best b JOIN above a ON b.vec_id = a.vec_id
    """,
)
def corpus_semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space benchmark decontamination — the semantic twin of
    C27's n-gram check (modern pipelines run BOTH: n-gram overlap misses
    paraphrased eval leakage, embedding cosine catches it — the SemDeDup
    / Phi-style decontamination step): every corpus vector (vec_id ≥
    {_SD_Q}) is scored by its nearest benchmark item (vec_id < {_SD_Q},
    standing in for the held-out eval set), reporting the argmax probe,
    the max cosine, how many benchmark items sit above the threshold,
    and the contaminated verdict at C9's near-dup grain (τ = {_SD_TAU} —
    "would have been caught as a near-duplicate of an eval item").

    Determinism: cosines through the shared round6(dot/norm) chain (C10
    definition); the argmax is a (cos DESC, probe_id) row_number — ties
    to the smallest probe id on both engines; n_above is an exact count.

    Scale shape: the benchmark set is SMALL by nature (an eval suite,
    not a corpus) — it broadcasts, the corpus streams ONCE against it
    (the C10 BNLJ-by-design shape), and the per-vector argmax/count
    share ONE vec_id window exchange carrying |corpus|·|benchmark|
    candidate rows.  At extreme benchmark sizes the candidate source
    swaps to C11b's IVF buckets — same downstream, as C62 demonstrates."""
    n = _normed(spark, sf_dir)
    probes = n.where(F.col("vec_id") < _SD_Q).select(
        F.col("vec_id").alias("probe_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
    )
    cos = round6(dot("v", "qv") / (F.col("nrm") * F.col("qnrm")))
    pair = (
        n.where(F.col("vec_id") >= _SD_Q)
        .crossJoin(F.broadcast(probes))
        .select("vec_id", "probe_id", cos.alias("cos"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("cos").desc(), "probe_id")
    wv = Window.partitionBy("vec_id")
    return (
        pair.select(
            "vec_id",
            "probe_id",
            "cos",
            F.row_number().over(w).alias("rnk"),
            F.sum(F.when(F.col("cos") >= _SD_TAU, 1).otherwise(0))
            .over(wv)
            .cast("long")
            .alias("n_above"),
        )
        .where(F.col("rnk") == 1)
        .select(
            "vec_id",
            F.col("probe_id").alias("best_probe"),
            F.col("cos").alias("max_cos"),
            "n_above",
            (F.col("cos") >= _SD_TAU).alias("contaminated"),
        )
    )


# ---------------------------------------------------------------------------
# C82. embedding_label_recall — label-agreement eval of the embedding
# space (the precision@k readout an embedding model ships with)


@register(
    "embedding_label_recall",
    tags=(BASELINE_CLASS,),
    oracle=f"""
    WITH {_SQL_NORMED},
    {_SQL_TOPK_CTES}
    SELECT e.q_id, ql.label AS label,
           CAST(sum(CASE WHEN nl.label = ql.label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hits,
           CAST((sum(CASE WHEN nl.label = ql.label THEN 1 ELSE 0 END)
                 * 1000000) // {_TOPK} AS BIGINT) AS precision_ppm,
           bool_or(e.rank = 1 AND nl.label = ql.label) AS top1_hit
    FROM ex e
    JOIN embeddings ql ON ql.vec_id = e.q_id
    JOIN embeddings nl ON nl.vec_id = e.neighbor_id
    GROUP BY 1, 2
    """,
)
def embedding_label_recall(
    spark: SparkSession, sf_dir: str, sample_mod: int | None = None
) -> DataFrame:
    """Label-agreement evaluation of the embedding space (C82): for each
    probe vector, how many of its exact cosine top-{_TOPK} neighbors
    share its class label — precision@k, the intrinsic-quality readout
    every embedding model publishes (C53 asks "does the INDEX find the
    true neighbors"; this asks "are the true neighbors actually
    RELEVANT").  Per probe: hit count, integer-ppm precision, and
    whether the single nearest neighbor already matches (top1_hit, the
    1-NN classifier accuracy cell).

    Ground truth rides C10's exact brute-force top-k (_exact_topk /
    _SQL_TOPK_CTES — one definition with ann_topk and C53, no drift
    channel), hence BASELINE_CLASS: at 100 TB run it on the same
    ``sample_mod`` slice ann_topk documents; labels join by vec_id
    (uniform key, broadcast-sized probe side)."""
    n = _normed(spark, sf_dir)
    if sample_mod:
        n = n.where(
            (F.col("vec_id") < _Q_MAX)
            | (
                hash64(F.col("vec_id").cast("string"), salt="bsample-")
                % sample_mod
                == 0
            )
        )
    topk = _exact_topk(n)
    labels = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    ql = labels.select(
        F.col("vec_id").alias("q_id"), F.col("label").alias("label")
    )
    nl = labels.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("n_label")
    )
    hit = F.when(F.col("n_label") == F.col("label"), 1).otherwise(0)
    return (
        topk.join(F.broadcast(ql), "q_id")
        .join(nl, "neighbor_id")
        .groupBy("q_id", "label")
        .agg(
            F.sum(hit).cast("long").alias("n_hits"),
            F.expr(f"CAST((sum(CASE WHEN n_label = label THEN 1 ELSE 0 END)"
                   f" * 1000000) div {_TOPK} AS BIGINT)").alias(
                "precision_ppm"
            ),
            F.max((F.col("rank") == 1) & (hit == 1)).alias("top1_hit"),
        )
    )
