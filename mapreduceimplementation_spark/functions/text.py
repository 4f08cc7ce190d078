"""Tokenization / n-gram helpers — built-in functions only (codegen path).

Word-splitting follows the reference word-count app on ASCII text: words
are maximal runs of ASCII letters, everything else is a separator, case is
preserved (reference: src/mrapps/wc.go Map(), which splits on any
non-letter, so the two differ only on non-ASCII letters).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: the reference's `!unicode.IsLetter` separator, restricted to ASCII
WORD_SEP_RE = "[^A-Za-z]+"


def word_tokens(df: DataFrame, text_col: str = "text", out: str = "word") -> DataFrame:
    """One row per word occurrence: maximal runs of ASCII letters.  This
    is wc.go's Map on ASCII text; a non-ASCII letter splits a word here,
    where wc.go (``!unicode.IsLetter``) keeps it whole."""
    return df.select(
        "*", F.explode(F.split(F.col(text_col), WORD_SEP_RE)).alias(out)
    ).where(F.col(out) != "")


def word_array(col: Column | str) -> Column:
    """Words of a text column as an array (``word_tokens``'s rule)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(c, WORD_SEP_RE), lambda x: x != F.lit(""))


def ngrams_of_words(ws: Column | str, n: int) -> Column:
    """Space-joined n-gram shingles of a word-array column.

    IMPORTANT (perf): pass a *materialized column* (a prior select alias),
    not an inline word_array(...) expression — lambda bodies re-evaluate
    outer subexpressions per element, which turns an inline split into
    O(words²) regex work per document (measured 3-10x on the shingle
    stage).  Docs with fewer than ``n`` words produce an empty array.
    """
    w = F.col(ws) if isinstance(ws, str) else ws
    return F.when(
        F.size(w) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - (n - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(w, i + j) for j in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def word_ngrams(col: Column | str, n: int) -> Column:
    """Shingles straight from a text column — convenience form; prefer the
    word_array + ngrams_of_words two-step in hot paths (see ngrams_of_words)."""
    return ngrams_of_words(word_array(col), n)


def sql_word_ngrams(n: int, table: str = "documents") -> str:
    """DuckDB CTE body producing the identical (doc_id, sh) distinct shingle
    relation as ``word_ngrams`` + explode + distinct."""
    gram = " || ' ' || ".join(f"ws[i+{j}]" for j in range(n))
    return f"""
        SELECT DISTINCT doc_id, {gram} AS sh
        FROM (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(text, '[^A-Za-z]+'),
                               x -> x <> '') AS ws
            FROM {table} WHERE text IS NOT NULL
        ), UNNEST(range(1, len(ws) - {n - 2})) AS t(i)
    """


def char_ngrams(col: Column | str, n: int) -> Column:
    """Array of overlapping character n-grams of a string column.

    Pure built-ins: sequence + transform + substring, no Python UDF, so it
    stays inside whole-stage codegen at scale.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.when(
        F.length(c) >= n,
        F.transform(
            F.sequence(F.lit(1), F.length(c) - (n - 1)),
            lambda i: c.substr(i, F.lit(n)),
        ),
    ).otherwise(F.array(c))


def word_chunks(words: Column | str, width: int, stride: int | None = None) -> Column:
    """Array of ``struct<pid, start, chunk>`` fixed-width word windows of a
    word-array column — the shared chunker behind paragraph-grain dedup
    (C40/C45, stride == width: a disjoint grid) and sliding-window RAG
    chunking (C41, stride < width: overlapping windows).  ONE definition:
    drifted copies of the guarded transform would silently chunk the same
    corpus differently across operators.

    Pure built-ins (size/sequence/transform/slice/array_join) — row-local,
    codegen, no shuffle.  The empty-array branch is explicit because
    ``F.sequence(0, -1)`` runs BACKWARD (the FNV empty-fold lesson).
    """
    w = F.col(words) if isinstance(words, str) else words
    stride = width if stride is None else stride
    n = F.size(w)
    n_chunks = F.lit(1) + F.floor(
        (F.greatest(n - width, F.lit(0)) + stride - 1) / stride
    ).cast("int")
    return F.when(
        n > 0,
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.struct(
                i.cast("long").alias("pid"),
                (i * stride).cast("long").alias("start"),
                F.array_join(F.slice(w, i * stride + 1, width), " ").alias(
                    "chunk"
                ),
            ),
        ),
    ).otherwise(
        F.array().cast("array<struct<pid:long,start:long,chunk:string>>")
    )
