"""Multimodal metadata extraction (SURVEY.md §2 C12).

Treats media as an opaque ``binary`` payload column with typed metadata
extracted by an Arrow-batched ``mapInPandas`` decode — the exact plumbing a
real image/audio/video pipeline needs (schema, batch shape, partitioning),
with the codec itself STUBBED:

- ``_decode_media`` is a **deterministic fake**: it splits the real byte
  payload on its header, decodes it, and derives metadata by CHARACTER
  arithmetic on the decoded content — encoding-independent, so the SQL
  oracle (which only sees text) computes the identical values even for
  non-ASCII corpora, and the operator is oracle-checkable end-to-end.
- Real container formats (PNG/RIFF/MP4 magic numbers) take the
  ``_decode_real`` branch: decoded with PIL when it is installed (r4 —
  exercised against a committed PNG fixture), refused loudly with
  ``NotImplementedError`` when it is not.  This sandbox has no codec
  libraries, so the refusal path is what runs here; nothing else changes
  at deploy.

Scale notes: payloads ride the scan as opaque bytes (no JVM<->Python copy
until the decode projection), the decode is Arrow-batched (no per-row
pickling), and the output is a narrow typed frame — the pattern for
running feature extraction over 100 TB of media shards.  Batch memory is
bounded by spark.sql.execution.arrow.maxRecordsPerBatch, so giant payloads
can't OOM a worker.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mapreduceimplementation_spark.registry import register
from mapreduceimplementation_spark.sources.tables import load_table

#: container magic numbers a real decoder would claim (stub refuses them
#: unless a real codec library is importable — see _decode_real)
_REAL_MAGIC = (b"\x89PNG", b"\xff\xd8\xff", b"RIFF", b"\x00\x00\x00\x18ftyp")

try:  # optional real-codec dependency: absent in this sandbox, present at deploy
    from PIL import Image as _PILImage  # type: ignore
except ImportError:  # pragma: no cover - environment-dependent
    _PILImage = None


def _decode_real(payload: bytes) -> dict:
    """Real-codec branch: decode an actual image container with PIL when
    it is installed; refuse loudly otherwise (never silently mis-decode).
    Metadata here is byte-based (real media has no character content):
    size = payload bytes, checksum = first-16-BYTES sum mod 997, real
    pixel dimensions.  The registered queries never hit this branch (the
    synthetic corpus carries stub payloads); tests/test_multimodal.py
    exercises it against a committed PNG fixture whenever PIL exists."""
    if _PILImage is None:
        raise NotImplementedError(
            "real codec decode (PIL/libav) is unavailable in this environment"
        )
    import io

    with _PILImage.open(io.BytesIO(payload)) as im:
        width, height = im.size
    return {
        "kind": "image",
        "size_chars": len(payload),
        "checksum": sum(payload[:16]) % 997,
        "width": width,
        "height": height,
        "duration_ms": None,
        "n_frames": None,
    }

_OUT_SCHEMA = (
    "doc_id bigint, kind string, size_chars bigint, checksum bigint, "
    "width bigint, height bigint, duration_ms bigint, n_frames bigint"
)


def _char_at(s: str, i: int) -> int:
    """Code point at 0-based index i, or 0 past the end — the exact
    semantics of DuckDB's ascii(substr(s, i+1, 1)) (ascii('') = 0)."""
    return ord(s[i]) if len(s) > i else 0


def _decode_media(payload: bytes) -> dict:
    """STUB decode: deterministic parsing standing in for PIL/libav.

    Real codecs are unavailable in this container — payloads that start
    with an actual container magic number are refused loudly rather than
    mis-decoded.  The header split happens on raw bytes (as a real
    demuxer would); the derived metadata uses CHARACTER arithmetic on the
    decoded content so the values are encoding-independent and match the
    SQL oracle for any corpus, ASCII or not."""
    if payload.startswith(_REAL_MAGIC):
        return _decode_real(payload)
    sep = payload.index(b":")
    kind = payload[:sep].decode("utf-8")
    body = payload[sep + 1 :].decode("utf-8")
    content = kind + ":" + body
    meta = {
        "kind": kind,
        "size_chars": len(content),
        "checksum": sum(ord(c) for c in content[:16]) % 997,
        "width": None,
        "height": None,
        "duration_ms": None,
        "n_frames": None,
    }
    if kind == "image":
        meta["width"] = _char_at(body, 0) * 4
        meta["height"] = _char_at(body, 1) * 4
    elif kind == "audio":
        meta["duration_ms"] = len(content) * 10
    elif kind == "video":
        meta["n_frames"] = len(content) // 100
    return meta


def _decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        out = {k: [] for k in (
            "doc_id", "kind", "size_chars", "checksum",
            "width", "height", "duration_ms", "n_frames",
        )}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            meta = _decode_media(bytes(payload))
            out["doc_id"].append(doc_id)
            for k in ("kind", "size_chars", "checksum", "width", "height",
                      "duration_ms", "n_frames"):
                out[k].append(meta[k])
        pdf_out = pd.DataFrame(out)
        for c in ("size_chars", "checksum", "width", "height", "duration_ms",
                  "n_frames"):
            pdf_out[c] = pdf_out[c].astype("Int64")
        yield pdf_out


@register(
    "multimodal_meta",
    oracle="""
    SELECT doc_id,
           kind,
           CAST(length(kind) + 1 + length(text) AS BIGINT) AS size_chars,
           CAST(list_sum(list_transform(range(1, 17),
                i -> ascii(substr(kind || ':' || text, CAST(i AS INT), 1)))) % 997
                AS BIGINT) AS checksum,
           CASE WHEN kind = 'image' THEN CAST(ascii(substr(text, 1, 1)) * 4 AS BIGINT) END AS width,
           CASE WHEN kind = 'image' THEN CAST(ascii(substr(text, 2, 1)) * 4 AS BIGINT) END AS height,
           CASE WHEN kind = 'audio' THEN CAST((length(kind) + 1 + length(text)) * 10 AS BIGINT) END AS duration_ms,
           CASE WHEN kind = 'video' THEN CAST((length(kind) + 1 + length(text)) // 100 AS BIGINT) END AS n_frames
    FROM (
        SELECT doc_id, text,
               CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind
        FROM documents WHERE text IS NOT NULL
    )
    """,
)
def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata over a binary media column via stubbed batch decode.

    The media table is synthesized deterministically from ``documents``
    (payload = '<kind>:' || text as UTF-8 bytes, kind cycling by doc_id) so
    the decode is exactly reproducible by the SQL oracle — the honest way
    to test multimodal *plumbing* without codec libraries."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    kind = (
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
    )
    media = docs.where(F.col("text").isNotNull()).select(
        "doc_id",
        F.encode(F.concat(kind, F.lit(":"), F.col("text")), "UTF-8").alias("payload"),
    )
    return media.mapInPandas(_decode_batches, schema=_OUT_SCHEMA)


# ---------------------------------------------------------------------------
# C22. multimodal_framesample (1:N frame sampling + thumbnail resize, stubbed)

_FRAME_CHARS = 100  # stub "frame" = 100 decoded characters (matches C12 n_frames)
_FS_STRIDE = 5  # keep every 5th frame
_FS_SCHEMA = (
    "doc_id bigint, frame_idx bigint, frame_checksum bigint, "
    "thumb_w bigint, thumb_h bigint"
)


def _sample_frames(payload: bytes) -> list[dict]:
    """STUB frame-sample + resize: deterministic chunking standing in for
    libav frame extraction and a thumbnail resize.  Same refusal contract
    as _decode_media for real container formats."""
    if payload.startswith(_REAL_MAGIC):
        raise NotImplementedError(
            "real codec decode (PIL/libav) is stubbed in this environment"
        )
    sep = payload.index(b":")
    kind = payload[:sep].decode("utf-8")
    body = payload[sep + 1 :].decode("utf-8")
    content = kind + ":" + body
    n_frames = len(content) // _FRAME_CHARS
    out = []
    for i in range(0, n_frames, _FS_STRIDE):
        frame = content[i * _FRAME_CHARS : (i + 1) * _FRAME_CHARS]
        out.append(
            {
                "frame_idx": i,
                "frame_checksum": sum(ord(c) for c in frame[:16]) % 997,
                "thumb_w": _char_at(frame, 0) % 64 + 1,
                "thumb_h": _char_at(frame, 1) % 64 + 1,
            }
        )
    return out


def _framesample_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        out = {k: [] for k in (
            "doc_id", "frame_idx", "frame_checksum", "thumb_w", "thumb_h",
        )}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            for fr in _sample_frames(bytes(payload)):
                out["doc_id"].append(doc_id)
                for k in ("frame_idx", "frame_checksum", "thumb_w", "thumb_h"):
                    out[k].append(fr[k])
        yield pd.DataFrame(out).astype("Int64")


@register(
    "multimodal_framesample",
    oracle=f"""
    SELECT doc_id,
           CAST(frame_idx AS BIGINT) AS frame_idx,
           CAST(list_sum(list_transform(range(1, 17),
                i -> ascii(substr(frame, CAST(i AS INT), 1)))) % 997
                AS BIGINT) AS frame_checksum,
           CAST(ascii(substr(frame, 1, 1)) % 64 + 1 AS BIGINT) AS thumb_w,
           CAST(ascii(substr(frame, 2, 1)) % 64 + 1 AS BIGINT) AS thumb_h
    FROM (
        SELECT doc_id, frame_idx,
               substr(content, CAST(frame_idx * {_FRAME_CHARS} + 1 AS INT),
                      {_FRAME_CHARS}) AS frame
        FROM (
            SELECT doc_id, 'video:' || text AS content
            FROM documents WHERE text IS NOT NULL AND doc_id % 3 = 2
        ), UNNEST(range(0, length(content) // {_FRAME_CHARS}, {_FS_STRIDE}))
           AS t(frame_idx)
    )
    """,
)
def multimodal_framesample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling + thumbnail metadata over video payloads — the 1:N
    ``mapInPandas`` shape C12's 1:1 decode doesn't exercise: each input
    row expands to a variable number of output rows (every 5th stub
    "frame" with a per-frame checksum and resized-thumbnail dims), the
    plumbing behind video frame extraction for vision-model training
    data.

    Same honesty contract as C12: the chunking stands in for libav frame
    decode (real container magics are refused loudly), and the values are
    character-derived so the SQL oracle reproduces them exactly.  Scale
    shape: payload bytes cross to Python once, Arrow-batched; output is a
    narrow typed frame; batch memory bounded by
    spark.sql.execution.arrow.maxRecordsPerBatch."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    media = docs.where(F.col("text").isNotNull() & (F.col("doc_id") % 3 == 2)).select(
        "doc_id",
        F.encode(F.concat(F.lit("video:"), F.col("text")), "UTF-8").alias("payload"),
    )
    return media.mapInPandas(_framesample_batches, schema=_FS_SCHEMA)


# ---------------------------------------------------------------------------
# C80. multimodal_phash_dedup — perceptual-hash-bucket duplicate grouping
# over the binary media column (the image-dedup pass of a multimodal
# pipeline), via the SAME batch-decode plumbing as C12

#: the stub's 16-char checksum (mod 997) plays the perceptual hash: a
#: real deployment swaps _decode_media for pHash/aHash over decoded
#: pixels — same UDF signature, same bucket-grouping plan; the stub
#: keeps the whole pass SQL-oracle-checkable (C12's discipline).


@register(
    "multimodal_phash_dedup",
    oracle="""
    WITH meta AS (
        SELECT doc_id, kind,
               CAST(list_sum(list_transform(range(1, 17),
                    i -> ascii(substr(kind || ':' || text, CAST(i AS INT), 1))))
                    % 997 AS BIGINT) AS phash
        FROM (
            SELECT doc_id, text,
                   CASE doc_id % 3 WHEN 0 THEN 'image'
                                   WHEN 1 THEN 'audio'
                                   ELSE 'video' END AS kind
            FROM documents WHERE text IS NOT NULL
        )
    )
    SELECT doc_id, kind, phash,
           min(doc_id) OVER w AS canonical_id,
           CAST(count(*) OVER w AS BIGINT) AS group_size,
           doc_id <> min(doc_id) OVER w AS is_candidate_dup
    FROM meta
    WINDOW w AS (PARTITION BY kind, phash)
    """,
)
def multimodal_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash duplicate grouping over BINARY media (C80): decode
    each payload in Arrow batches (the C12 mapInPandas plumbing), take
    its perceptual fingerprint, and group same-kind media sharing it —
    C1's exact-dedup shape applied to media, with the fingerprint
    replacing the text hash.  Groups are CANDIDATE duplicates (a pHash
    bucket is a blocking key, like C7's LSH bands): survivors = min
    doc_id, the rest flagged for the verify/review stage.

    The stub's 16-char checksum stands in for pHash (module note); the
    Spark side still runs the REAL pipeline shape — binary column →
    Pandas-UDF feature extraction → ONE exchange on the bounded
    (kind, fingerprint) key.  At 100 TB: payload bytes never shuffle
    (only doc_id + 8-byte fingerprint move), decode parallelism is
    scan-partition-wide, and bucket sizes are fingerprint-uniform."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    kind = (
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
    )
    media = docs.where(F.col("text").isNotNull()).select(
        "doc_id",
        F.encode(F.concat(kind, F.lit(":"), F.col("text")), "UTF-8").alias(
            "payload"
        ),
    )
    meta = media.mapInPandas(_decode_batches, schema=_OUT_SCHEMA).select(
        "doc_id", "kind", F.col("checksum").alias("phash")
    )
    w = Window.partitionBy("kind", "phash")
    return meta.select(
        "doc_id",
        "kind",
        "phash",
        F.min("doc_id").over(w).alias("canonical_id"),
        F.count(F.lit(1)).over(w).cast("long").alias("group_size"),
        (F.col("doc_id") != F.min("doc_id").over(w)).alias("is_candidate_dup"),
    )
