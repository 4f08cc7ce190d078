"""Golden-output parity with the reference MapReduce lab: run our
operators over a pg-*.txt corpus and compare with the mr-out-* files of
a MapReduce run over it (the reference's test-mr.sh gate: 'wc output
equals sequential golden').

Two corpora share the reference's layout (pg-*.txt inputs, mr-out-N
golden lines).  ``tests/data/wc`` is a small hand-written one, always
present: its mr-out-0 was derived by hand from wc.go's rule (split on
!unicode.IsLetter, count per case-sensitive word, keys sorted), and it
covers non-ASCII letters, digits, apostrophes and punctuation.  The
reference's own corpus and committed intermediates are an optional
extra, tested when a checkout of the lab is present.

Reference anchors: src/mrapps/wc.go (Map splits on !unicode.IsLetter,
Reduce counts), src/mr/worker.go (mr-out-N '%v %v' sink contract,
ihash = FNV-1a 32-bit & 0x7fffffff).
"""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from mapreduceimplementation_spark.sources.text import read_text_dir, write_mr_out

_FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "wc")
_REF_MAIN = "/root/reference/src/main"
_HAVE_REF = bool(glob.glob(os.path.join(_REF_MAIN, "pg-*.txt"))) and bool(
    glob.glob(os.path.join(_REF_MAIN, "mr-out-[0-9]"))
)
_CORPORA = [
    pytest.param(_FIXTURE, id="fixture"),
    pytest.param(
        _REF_MAIN,
        id="reference",
        marks=pytest.mark.skipif(
            not _HAVE_REF, reason="reference corpus/golden not present"
        ),
    ),
]


def _wc_map(docs, out: str):
    """wc.go's Map: one row per maximal run of Unicode letters.  (The
    package's word_tokens splits on ASCII letters only, which matches
    wc.go on ASCII text but not on the fixture's accented words.)"""
    return docs.select(
        F.explode(F.split("text", r"[^\p{L}]+")).alias(out)
    ).where(F.col(out) != "")


def _golden_counts(corpus: str = _REF_MAIN) -> dict[str, int]:
    out: dict[str, int] = {}
    for fn in glob.glob(os.path.join(corpus, "mr-out-[0-9]")):
        with open(fn, encoding="utf-8") as f:
            for line in f:
                line = line.rstrip("\n")
                if not line:
                    continue
                word, cnt = line.rsplit(" ", 1)
                assert word not in out, f"duplicate golden key {word!r}"
                out[word] = int(cnt)
    return out


def test_fixture_golden_is_nonempty():
    """The always-on corpus really is there, so its tests cannot pass
    vacuously."""
    assert len(glob.glob(os.path.join(_FIXTURE, "pg-*.txt"))) == 3
    assert len(_golden_counts(_FIXTURE)) == 60


@pytest.mark.parametrize("corpus", _CORPORA)
def test_wordcount_matches_reference_golden(spark, corpus):
    """wc.go parity: split contents on !unicode.IsLetter ([^\\p{L}]+),
    count per word (case-sensitive), and the (word, count) set must
    equal the union of the mr-out-N golden files exactly."""
    docs = read_text_dir(spark, corpus, "pg-*.txt")
    counts = _wc_map(docs, "word").groupBy("word").count()
    ours = {(r["word"], r["count"]) for r in counts.collect()}
    golden = set(_golden_counts(corpus).items())
    assert ours == golden, (
        f"missing={list(golden - ours)[:5]} extra={list(ours - golden)[:5]}"
    )


@pytest.mark.parametrize("corpus", _CORPORA)
def test_mr_out_sink_contract(spark, tmp_path, corpus):
    """write_mr_out produces exactly n_reduce part files whose union of
    'key value' lines equals the input, each file sorted by key
    (worker.go's mr-out-N contract)."""
    docs = read_text_dir(spark, corpus, "pg-*.txt")
    counts = _wc_map(docs, "key").groupBy("key").agg(
        F.count(F.lit(1)).alias("value")
    )
    out = str(tmp_path / "mr-out")
    write_mr_out(counts, out, n_reduce=10)

    parts = sorted(glob.glob(os.path.join(out, "part-*")))
    assert len(parts) == 10
    seen: dict[str, int] = {}
    for fn in parts:
        with open(fn, encoding="utf-8") as f:
            keys = []
            for line in f:
                word, cnt = line.rstrip("\n").rsplit(" ", 1)
                keys.append(word)
                seen[word] = int(cnt)
            assert keys == sorted(keys), f"{fn} not sorted by key"
    assert seen == _golden_counts(corpus)


# ---------------------------------------------------------------------------
# ihash: FNV-1a 32-bit, checked against the algorithm's published test
# vectors (the FNV reference test suite), on the driver and in SQL

_FNV1A32_VECTORS = [("", 0x811C9DC5), ("a", 0xE40C292C), ("foobar", 0xBF9CF968)]


def test_fnv1a32_published_vectors(spark):
    from mapreduceimplementation_spark.functions.hashing import fnv1a32, py_fnv1a32

    for s, want in _FNV1A32_VECTORS:
        assert py_fnv1a32(s) == want, s
    df = spark.createDataFrame(_FNV1A32_VECTORS, "s string, want long")
    got = {r["s"]: r["h"] for r in df.select("s", fnv1a32("s").alias("h")).collect()}
    assert got == dict(_FNV1A32_VECTORS)


# ---------------------------------------------------------------------------
# A10. Intermediate shuffle-format parity: the reference's committed
# mr-out-<map>-<reduce>.json files (worker.go's json.Encoder per KeyValue,
# bucket = ihash(key) & 0x7fffffff % NReduce)

_HAVE_INTERMEDIATE = bool(
    glob.glob(os.path.join(_REF_MAIN, "mr-out-[0-9]-[0-9].json"))
)


def _intermediate_rows():
    """(map_task, reduce_bucket, key, value) from every committed
    intermediate file."""
    import json as _json

    rows = []
    for fn in sorted(glob.glob(os.path.join(_REF_MAIN, "mr-out-*-*.json"))):
        base = os.path.basename(fn)[len("mr-out-"):-len(".json")]
        m, r = (int(x) for x in base.split("-"))
        with open(fn, encoding="utf-8") as f:
            for line in f:
                line = line.strip()
                if not line:
                    continue
                kv = _json.loads(line)
                rows.append((m, r, kv["Key"], kv["Value"]))
    return rows


@pytest.mark.skipif(not _HAVE_INTERMEDIATE, reason="no committed intermediates")
def test_intermediate_buckets_follow_ihash():
    """Every key in the reference's committed intermediate files sits in
    exactly the reduce bucket ihash(key) % NReduce prescribes — pinning
    OUR ihash implementation to the reference's actual shuffle artifacts
    (not just to the algorithm's description)."""
    from mapreduceimplementation_spark.functions.hashing import py_fnv1a32

    rows = _intermediate_rows()
    assert rows, "no intermediate rows parsed"
    n_reduce = max(r for _, r, _, _ in rows) + 1
    assert n_reduce == 10
    for _, r, key, _ in rows:
        assert (py_fnv1a32(key) & 0x7FFFFFFF) % n_reduce == r, key


@pytest.mark.skipif(not _HAVE_INTERMEDIATE, reason="no committed intermediates")
def test_spark_ihash_reproduces_reference_buckets(spark):
    """The SQL fnv1a32 fold reproduces the reference's bucket for every
    distinct key in the committed intermediates — our engine could write
    byte-compatible shuffle files for this job."""
    from pyspark.sql import functions as F

    from mapreduceimplementation_spark.functions.hashing import fnv1a32

    rows = _intermediate_rows()
    pairs = sorted({(k, r) for _, r, k, _ in rows})
    df = spark.createDataFrame(pairs, "key string, bucket int")
    got = df.select(
        "key",
        "bucket",
        (fnv1a32("key").bitwiseAND(F.lit(0x7FFFFFFF)) % 10).alias("ours"),
    )
    assert got.where(F.col("bucket") != F.col("ours")).count() == 0


@pytest.mark.skipif(not _HAVE_INTERMEDIATE, reason="no committed intermediates")
def test_reduce_over_intermediates_equals_golden():
    """Replaying wc.go's Reduce (count per key) over the committed
    intermediate files must reproduce the committed FINAL mr-out-N
    outputs exactly — the shuffle+reduce contract end-to-end on the
    reference's own artifacts."""
    from collections import Counter

    rows = _intermediate_rows()
    counts = Counter(k for _, _, k, _ in rows)
    assert all(v == "1" for _, _, _, v in rows)  # wc.go Map emits "1"
    assert dict(counts) == _golden_counts()


def _package_map(docs, out: str):
    """The package's own Map, ``word_tokens``: runs of ASCII letters,
    which is wc.go's Map on ASCII text such as the reference corpus."""
    from mapreduceimplementation_spark.functions.text import word_tokens

    return word_tokens(docs, out=out).select(out)


@pytest.mark.parametrize(
    "corpus, wc_map",
    [
        # the fixture's accented and Greek words need wc.go's Unicode rule
        pytest.param(_FIXTURE, _wc_map, id="fixture"),
        pytest.param(
            _REF_MAIN,
            _package_map,
            id="reference",
            marks=pytest.mark.skipif(
                not _HAVE_REF, reason="reference corpus/golden not present"
            ),
        ),
    ],
)
def test_write_mr_intermediate_roundtrip(spark, tmp_path, corpus, wc_map):
    """Write-side dual of A10: our map output written through
    write_mr_intermediate lands every key in the reference's ihash
    bucket (so a reference reducer could consume it), and replaying
    Reduce over our files equals the committed golden counts.  On the
    reference corpus the map is the package's ``word_tokens``, so this
    also pins the package tokenizer to wc.go's golden output."""
    import json as _json

    from mapreduceimplementation_spark.functions.hashing import py_fnv1a32
    from mapreduceimplementation_spark.sources.text import write_mr_intermediate

    docs = read_text_dir(spark, corpus, "pg-*.txt")
    kv = wc_map(docs, "key").select("key", F.lit("1").alias("value"))
    out = str(tmp_path / "intermediate")
    write_mr_intermediate(kv, out, n_reduce=10)

    from collections import Counter

    counts: Counter = Counter()
    for fn in glob.glob(os.path.join(out, "r=*", "*.json")):
        r = int(os.path.basename(os.path.dirname(fn)).split("=")[1])
        with open(fn, encoding="utf-8") as f:
            for line in f:
                line = line.strip()
                if not line:
                    continue
                rec = _json.loads(line)
                assert set(rec) == {"Key", "Value"}
                assert (py_fnv1a32(rec["Key"]) & 0x7FFFFFFF) % 10 == r
                assert rec["Value"] == "1"
                counts[rec["Key"]] += 1
    assert dict(counts) == _golden_counts(corpus)
