"""Dedup family tests (SURVEY.md §2 C1, C6–C8)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

import mapreduceimplementation_spark as eng
from mapreduceimplementation_spark.functions.text import word_ngrams, sql_word_ngrams
from tests.conftest import assert_same_result

eng.load_all_operators()


def test_word_ngrams_matches_sql_twin(spark, duck, sf_dir):
    """word_ngrams + explode + distinct must equal sql_word_ngrams for
    n=1..3, including docs with fewer than n words (empty arrays)."""
    from mapreduceimplementation_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    for n in (1, 2, 3):
        sp = docs.where(F.col("text").isNotNull()).select(
            "doc_id", F.explode(F.array_distinct(word_ngrams("text", n))).alias("sh")
        )
        assert_same_result(sp, duck, sql_word_ngrams(n))


def test_word_ngrams_short_docs(spark):
    """Docs with fewer than n words produce an empty shingle array."""
    df = spark.createDataFrame(
        [("one",), ("two words",), ("three words here",), ("",)], ["text"]
    )
    out = df.select(F.size(word_ngrams("text", 3)).alias("k")).toPandas()
    assert list(out["k"]) == [0, 0, 1, 0]


def test_minhash_equals_exact_baseline(spark, sf_dir):
    """At this corpus's clean separation (all true pairs j>0.9, everything
    else j<0.1), LSH banding must recover exactly the exact-Jaccard pairs."""
    exact = eng.QUERIES["dedup_ngram_jaccard"](spark, sf_dir).toPandas()
    lsh = eng.QUERIES["dedup_minhash_lsh"](spark, sf_dir).toPandas()
    key = lambda df: sorted(map(tuple, df[["a_id", "b_id", "jaccard"]].values.tolist()))
    assert key(exact) == key(lsh)


def test_dedup_exact_groups(spark):
    """Normalization (case/whitespace) must merge exact dups."""
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "other text")],
        ["doc_id", "text"],
    )
    norm = F.regexp_replace(F.trim(F.lower(F.col("text"))), "[ \\t\\n]+", " ")
    hashed = df.select("doc_id", F.md5(norm).alias("h"))
    groups = hashed.groupBy("h").agg(F.count("*").alias("n")).toPandas()
    assert sorted(groups["n"]) == [1, 2]


def test_simhash_pairs_are_near_dups(spark, sf_dir):
    """Every simhash pair (hamming<=3) must be a true near-dup pair
    (subset of the exact-Jaccard j>=0.8 pairs) — chunk-LSH has no false
    positives after the hamming re-check, only bounded recall."""
    exact = eng.QUERIES["dedup_ngram_jaccard"](spark, sf_dir).toPandas()
    sim = eng.QUERIES["dedup_simhash"](spark, sf_dir).toPandas()
    exact_pairs = set(map(tuple, exact[["a_id", "b_id"]].values.tolist()))
    sim_pairs = set(map(tuple, sim[["a_id", "b_id"]].values.tolist()))
    assert sim_pairs <= exact_pairs
    assert len(sim_pairs) > 0


def test_dedup_clusters_consistent_with_pairs(spark, sf_dir):
    """C18: both endpoints of every near-dup pair share a cluster; each
    cluster has exactly one canonical doc, which is its smallest id; and
    sizes account for every document exactly once."""
    out = eng.QUERIES["dedup_clusters"](spark, sf_dir).toPandas()
    pairs = eng.QUERIES["dedup_minhash_lsh"](spark, sf_dir).toPandas()
    cl = out.set_index("doc_id")["cluster_id"]
    for a, b in zip(pairs["a_id"], pairs["b_id"]):
        assert cl[a] == cl[b], (a, b)
    for cid, grp in out.groupby("cluster_id"):
        assert grp["is_canonical"].sum() == 1
        assert cid == grp["doc_id"].min()
        assert (grp["cluster_size"] == len(grp)).all()
    # sizes account for every document exactly once
    assert out.drop_duplicates("cluster_id")["cluster_size"].sum() == len(out)


def test_dedup_clusters_long_chain_converges(spark, sf_dir):
    """A 60-node chain (diameter 59 — far beyond the iteration cap if
    propagation moved one hop per round) must converge into ONE cluster:
    pointer doubling makes rounds logarithmic in diameter."""
    from unittest import mock

    import mapreduceimplementation_spark.operators.dedup as dd

    chain = spark.createDataFrame(
        [(i, i + 1, 1.0) for i in range(59)], "a_id long, b_id long, jaccard double"
    )
    with mock.patch.object(dd, "dedup_minhash_lsh", lambda s, d: chain):
        out = dd.dedup_clusters(spark, sf_dir).toPandas()
    chained = out[out["doc_id"] < 60]
    assert (chained["cluster_id"] == 0).all()
    assert (chained["cluster_size"] == 60).all()
    assert chained[chained["is_canonical"]]["doc_id"].tolist() == [0]


# ---------------------------------------------------------------------------
# C35. dedup_containment


def test_containment_matches_oracle(spark, sf_dir, duck):
    df = eng.QUERIES["dedup_containment"](spark, sf_dir)
    assert_same_result(df, duck, eng.ORACLES["dedup_containment"])


def test_containment_catches_subset_dup_jaccard_misses(spark):
    """A short doc embedded verbatim in a 3x-longer doc: containment
    must be 1.0 while Jaccard sits far below the near-dup threshold —
    the dup class C35 exists for."""
    from mapreduceimplementation_spark.operators.dedup import (
        _TAU,
        containment_pairs,
    )

    base = " ".join(f"w{i}" for i in range(30))
    longer = base + " " + " ".join(f"x{i}" for i in range(60))
    docs = spark.createDataFrame(
        [("a", base), ("b", longer)], "doc_id string, text string"
    )
    rows = containment_pairs(docs, spark).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["a_id"], r["b_id"]) == ("a", "b")
    assert r["containment"] == 1.0
    assert r["jaccard"] < _TAU


def test_containment_bounds_vs_jaccard(spark, sf_dir):
    """Containment >= Jaccard always (min(|A|,|B|) <= union), and both
    live in (0, 1]."""
    out = eng.QUERIES["dedup_containment"](spark, sf_dir).toPandas()
    assert len(out) > 0
    assert (out["containment"] >= out["jaccard"]).all()
    assert out["containment"].between(0.0, 1.0).all()
    assert (out["jaccard"] > 0.0).all()


# ---------------------------------------------------------------------------
# C40: paragraph-level dedup with reassembly


def test_paragraph_dedup_reassembly_identity(spark, sf_dir):
    """Docs that lose nothing must reassemble to their EXACT original
    text (split -> window -> re-aggregate is lossless)."""
    from mapreduceimplementation_spark.sources.tables import load_table

    out = eng.QUERIES["dedup_paragraphs"](spark, sf_dir).toPandas()
    orig = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    ).toPandas().set_index("doc_id")["text"]
    intact = out[out["n_dropped"] == 0]
    assert len(intact) > 0
    for _, r in intact.iterrows():
        assert r["cleaned_text"] == orig[r["doc_id"]]
    # totals: every paragraph accounted for
    assert (out["n_dropped"] <= out["n_paragraphs"]).all()


def test_paragraph_dedup_drops_cross_doc_boilerplate(spark):
    """A paragraph repeated across docs survives only at its globally
    first (doc_id, pid); within-doc repeats drop too."""
    from mapreduceimplementation_spark.operators.dedup import _PARA_WORDS

    boiler = " ".join(["spam"] * _PARA_WORDS)
    uniq_a = " ".join(f"a{i}" for i in range(_PARA_WORDS))
    uniq_b = " ".join(f"b{i}" for i in range(_PARA_WORDS))
    rows = [
        (1, boiler + " " + uniq_a + " " + boiler),  # repeat inside doc 1
        (2, uniq_b + " " + boiler),  # and across docs
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        for t in ("documents",):
            df.write.mode("overwrite").parquet(f"{d}/{t}.parquet")
        # reuse the operator machinery against the synthetic corpus by
        # writing the one table it reads
        out = {
            r["doc_id"]: r.asDict()
            for r in eng.QUERIES["dedup_paragraphs"](spark, d).collect()
        }
    assert out[1]["n_paragraphs"] == 3 and out[1]["n_dropped"] == 1
    assert out[1]["cleaned_text"] == boiler + " " + uniq_a
    assert out[2]["n_paragraphs"] == 2 and out[2]["n_dropped"] == 1
    assert out[2]["cleaned_text"] == uniq_b


# ---------------------------------------------------------------------------
# C45 boilerplate_source_matrix


def test_source_matrix_hand_corpus(spark):
    """Two sources sharing one grid-aligned boilerplate chunk produce one
    matrix cell; a third source with unique text appears nowhere."""
    import tempfile

    from mapreduceimplementation_spark.operators.dedup import _BSM_WORDS

    boiler = " ".join(["spam"] * _BSM_WORDS)
    uniq = lambda p: " ".join(f"{p}{i}" for i in range(_BSM_WORDS))
    rows = [
        (1, "s1", boiler + " " + uniq("a")),
        (2, "s2", boiler + " " + uniq("b")),
        (3, "s3", uniq("c")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    with tempfile.TemporaryDirectory() as d:
        df.write.mode("overwrite").parquet(f"{d}/documents.parquet")
        out = eng.QUERIES["boilerplate_source_matrix"](spark, d).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["source_a"], r["source_b"], r["n_shared_chunks"]) == ("s1", "s2", 1)


def test_source_matrix_symmetric_bounds(spark, sf_dir):
    """Pairs are canonical (a < b) and counts positive; the matrix is
    consistent with C40: cross-source sharing exists in the corpus."""
    out = eng.QUERIES["boilerplate_source_matrix"](spark, sf_dir).toPandas()
    assert len(out) > 0
    assert (out["source_a"] < out["source_b"]).all()
    assert (out["n_shared_chunks"] > 0).all()
    # canonical pairs are unique rows
    assert not out.duplicated(["source_a", "source_b"]).any()


# ---------------------------------------------------------------------------
# C48 minhash_recall_audit


def test_recall_audit_consistency(spark, sf_dir):
    out = eng.QUERIES["minhash_recall_audit"](spark, sf_dir).toPandas()
    assert len(out) > 0
    assert out["band"].between(5, 9).all()
    assert (out["n_caught"] <= out["n_pairs"]).all()
    assert (
        out["recall"] == (out["n_caught"] / out["n_pairs"]).round(6)
    ).all()
    # this corpus' near-dups are all far above the (b,r) S-curve knee,
    # so the banding must catch essentially everything it was tuned for
    assert (out.loc[out["band"] == 9, "recall"] == 1.0).all()


def test_recall_audit_scurve_on_borderline_pairs(spark):
    """Controlled-similarity corpus: pairs at j = 0.5 sit far below the
    (6 bands x 4 rows) S-curve knee (P[catch] ~ 0.32), pairs at j = 1.0
    far above (P[miss] < 3e-6) — the audit must show the fall-off.  The
    outcome is DETERMINISTIC (md5-derived permutations over fixed texts);
    the bounds, not exact counts, are asserted so the test states the
    semantic claim rather than pinning hash accidents."""
    import tempfile

    # letters-only words (word_array splits on [^A-Za-z]) — encode the
    # pair/word indices as alphabetic suffixes
    alpha = lambda n: "".join(chr(ord("a") + int(c)) for c in str(n))
    rows = []
    doc_id = 0
    for p in range(24):  # j = 0.5: 14-word shared prefix, 6-word tails
        shared = [f"p{alpha(p)}w{alpha(i)}" for i in range(14)]
        rows.append(
            (doc_id, " ".join(shared + [f"p{alpha(p)}xa{alpha(i)}" for i in range(6)]))
        )
        rows.append(
            (doc_id + 1, " ".join(shared + [f"p{alpha(p)}xb{alpha(i)}" for i in range(6)]))
        )
        doc_id += 2
    for p in range(8):  # j = 1.0: identical 20-word docs
        txt = " ".join(f"e{alpha(p)}w{alpha(i)}" for i in range(20))
        rows.append((doc_id, txt))
        rows.append((doc_id + 1, txt))
        doc_id += 2
    df = spark.createDataFrame(rows, "doc_id long, text string")
    with tempfile.TemporaryDirectory() as d:
        df.write.mode("overwrite").parquet(f"{d}/documents.parquet")
        out = {
            r["band"]: r.asDict()
            for r in eng.QUERIES["minhash_recall_audit"](spark, d).collect()
        }
    # identical pairs: band 9, all caught
    assert out[9]["n_pairs"] == 8 and out[9]["recall"] == 1.0
    # j=0.5 pairs land in band 5 (18 shingles each, 12 shared -> 12/24)
    assert out[5]["n_pairs"] == 24
    # below the knee the banding genuinely misses pairs — recall is
    # strictly partial (P[all 24 caught] ~ 1e-12, P[none] ~ 1e-4)
    assert 0 < out[5]["n_caught"] < 24


# ---------------------------------------------------------------------------
# C52 dedup_prefix_filter


def test_prefix_filter_equals_exact_baseline(spark, sf_dir):
    """Completeness in practice: the prefix-filtered pairs equal C6's
    full-expansion pairs EXACTLY (same verify, same threshold) — no pair
    below threshold generated, none above it missed."""
    a = {
        (r["a_id"], r["b_id"], r["jaccard"])
        for r in eng.QUERIES["dedup_prefix_filter"](spark, sf_dir).collect()
    }
    b = {
        (r["a_id"], r["b_id"], r["jaccard"])
        for r in eng.QUERIES["dedup_ngram_jaccard"](spark, sf_dir).collect()
    }
    assert a == b and len(a) > 0


def test_prefix_filter_candidate_reduction(spark, sf_dir):
    """The point of the prefix bound: strictly fewer candidate pairs than
    full posting-list expansion on the same corpus."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from mapreduceimplementation_spark.operators.dedup import (
        _bucket_pairs,
        _shingles,
    )
    from mapreduceimplementation_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sh = _shingles(docs, spark).localCheckpoint()
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
    prefix = ranked.where(
        F.col("pos") <= F.col("n") - F.expr("(4 * n + 4) div 5") + 1
    ).select("doc_id", "sh")

    def n_pairs(rel):
        return (
            _bucket_pairs(rel, ["sh"], ["doc_id"])
            .select(
                F.col("a.doc_id").alias("a_id"),
                F.col("b.doc_id").alias("b_id"),
            )
            .distinct()
            .count()
        )

    n_prefix, n_full = n_pairs(prefix), n_pairs(sh)
    assert n_prefix < n_full, (n_prefix, n_full)
    # prefix postings are ~(1-tau) of the doc's set (+1): bound the ratio
    assert n_prefix <= n_full // 2, (n_prefix, n_full)


# ---------------------------------------------------------------------------
# C55 dedup_substring_spans


def test_substring_spans_hand_corpus(spark):
    """Two cross-doc shared runs produce exact maximal spans; a run
    repeated only WITHIN one doc is excluded (cross-doc semantics); the
    gaps-and-islands merge keeps runs separated by > K apart."""
    import tempfile

    from mapreduceimplementation_spark.operators.dedup import _SPAN_K

    assert _SPAN_K == 10  # the arithmetic below is pinned to K=10
    S = " ".join(f"s{i}" for i in range(25))   # shared doc1 <-> doc2
    T = " ".join(f"t{i}" for i in range(12))   # shared doc1 <-> doc3
    R = " ".join(f"r{i}" for i in range(20))   # repeated inside doc4 only
    rows = [
        (
            1,
            " ".join(f"u{i}" for i in range(5))
            + " " + S + " "
            + " ".join(f"v{i}" for i in range(15))
            + " " + T + " "
            + " ".join(f"w{i}" for i in range(5)),
        ),
        (2, " ".join(f"x{i}" for i in range(3)) + " " + S + " "
            + " ".join(f"y{i}" for i in range(8))),
        (3, T + " " + " ".join(f"z{i}" for i in range(20))),
        (4, R + " " + " ".join(f"q{i}" for i in range(15)) + " " + R),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    with tempfile.TemporaryDirectory() as d:
        df.write.mode("overwrite").parquet(f"{d}/documents.parquet")
        out = {
            r["doc_id"]: r.asDict()
            for r in eng.QUERIES["dedup_substring_spans"](spark, d).collect()
        }
    # doc1: S-span (25 tokens) and T-span (12), separated by 15 unique words
    assert out[1]["n_tokens"] == 62
    assert out[1]["dup_spans"] == 2
    assert out[1]["dup_tokens"] == 37
    assert out[1]["dup_ppm"] == 37 * 1_000_000 // 62
    # doc2: exactly the S run
    assert out[2] == {
        "doc_id": 2, "n_tokens": 36, "dup_spans": 1, "dup_tokens": 25,
        "dup_ppm": 25 * 1_000_000 // 36,
    }
    # doc3: exactly the T run
    assert out[3]["dup_spans"] == 1 and out[3]["dup_tokens"] == 12
    # doc4: within-doc repetition only -> not a cross-doc duplicate
    assert 4 not in out


# ---------------------------------------------------------------------------
# C57 dedup_incremental


def test_incremental_equals_full_filtered(spark, sf_dir):
    """The incremental new-vs-all band join finds EXACTLY the pairs the
    full recompute (C7) finds among pairs involving a new doc — and its
    flags agree with the hash split."""
    from mapreduceimplementation_spark.functions.hashing import py_hash64
    from mapreduceimplementation_spark.operators.dedup import _INCR_EVERY

    is_new = lambda i: py_hash64(f"incr-{i}") % _INCR_EVERY == 0
    full = {
        (r["a_id"], r["b_id"]): r["jaccard"]
        for r in eng.QUERIES["dedup_minhash_lsh"](spark, sf_dir).collect()
    }
    want = {k: v for k, v in full.items() if is_new(k[0]) or is_new(k[1])}
    got = eng.QUERIES["dedup_incremental"](spark, sf_dir).collect()
    assert {(r["a_id"], r["b_id"]): r["jaccard"] for r in got} == want
    assert all(
        r["a_new"] == is_new(r["a_id"]) and r["b_new"] == is_new(r["b_id"])
        for r in got
    )
    assert all(r["a_new"] or r["b_new"] for r in got)


def test_baseline_class_sampled_mode(spark, sf_dir):
    """The BASELINE_CLASS mechanical escape (VERDICT r6 item 7): the
    quadratic diagnostics accept sample_mod=k — the sampled run's pairs
    must be exactly the full run's pairs restricted to the kept slice
    (same hash family, so the audit truth on the sample is the truth)."""
    from mapreduceimplementation_spark.functions.hashing import py_hash64
    from mapreduceimplementation_spark.operators.dedup import (
        dedup_ngram_jaccard,
    )
    from mapreduceimplementation_spark.operators.vectors import ann_topk

    k = 2
    kept = lambda i: py_hash64(str(i), salt="bsample-") % k == 0
    full = {
        (r["a_id"], r["b_id"]): r["jaccard"]
        for r in dedup_ngram_jaccard(spark, sf_dir).collect()
    }
    sampled = {
        (r["a_id"], r["b_id"]): r["jaccard"]
        for r in dedup_ngram_jaccard(spark, sf_dir, sample_mod=k).collect()
    }
    want = {p: j for p, j in full.items() if kept(p[0]) and kept(p[1])}
    assert sampled == want
    assert 0 < len(sampled) < len(full)

    # ann_topk: queries are always kept, every query still ranks top-10
    # over the kept slice
    out = ann_topk(spark, sf_dir, sample_mod=k).collect()
    qids = {r["q_id"] for r in out}
    full_qids = {r["q_id"] for r in ann_topk(spark, sf_dir).collect()}
    assert qids == full_qids
    for r in out:
        assert r["q_id"] < 8
        assert kept(r["neighbor_id"]) or r["neighbor_id"] < 8


def test_pair_expander_sampled_mode(spark, sf_dir):
    """VERDICT r9 item 5: the three output-quadratic pair expanders the
    scale artifact flags (dedup_prefix_filter, minhash_recall_audit,
    dedup_semantic) carry the same documented sample_mod escape, swept
    by tools/scale_stress.py beside the unsampled rows.

    Restriction semantics: prefix-filter pairs are pair-local facts, so
    the sampled run must equal the full run restricted to kept docs;
    the recall audit's per-band pair counts restrict the same way (never
    exceed the full counts); dedup_semantic retrains on the slice
    (SemDeDup-on-a-shard), so the contract is determinism + threshold,
    not restriction."""
    from mapreduceimplementation_spark.functions.hashing import py_hash64
    from mapreduceimplementation_spark.operators.dedup import (
        dedup_prefix_filter,
        minhash_recall_audit,
    )
    from mapreduceimplementation_spark.operators.vectors import (
        _SEM_TAU,
        dedup_semantic,
    )

    k = 2
    kept = lambda i: py_hash64(str(i), salt="bsample-") % k == 0
    full = {
        (r["a_id"], r["b_id"]) for r in dedup_prefix_filter(spark, sf_dir).collect()
    }
    sampled = {
        (r["a_id"], r["b_id"])
        for r in dedup_prefix_filter(spark, sf_dir, sample_mod=k).collect()
    }
    assert sampled == {p for p in full if kept(p[0]) and kept(p[1])}

    fa = {
        r["band"]: (r["n_pairs"], r["n_caught"])
        for r in minhash_recall_audit(spark, sf_dir).collect()
    }
    sa = {
        r["band"]: (r["n_pairs"], r["n_caught"])
        for r in minhash_recall_audit(spark, sf_dir, sample_mod=k).collect()
    }
    for band, (n_pairs, n_caught) in sa.items():
        assert n_pairs <= fa.get(band, (0, 0))[0]
        assert 0 <= n_caught <= n_pairs

    one = sorted(
        (r["a_id"], r["b_id"], r["cos"], r["drop_id"])
        for r in dedup_semantic(spark, sf_dir, sample_mod=k).collect()
    )
    two = sorted(
        (r["a_id"], r["b_id"], r["cos"], r["drop_id"])
        for r in dedup_semantic(spark, sf_dir, sample_mod=k).collect()
    )
    assert one == two
    for a_id, b_id, cos, drop_id in one:
        assert kept(a_id) and kept(b_id)
        assert cos >= _SEM_TAU
        assert drop_id in (a_id, b_id)


# ---------------------------------------------------------------------------
# C76 dedup_priority


def test_dedup_priority_survivor_rule(spark):
    """Hand corpus pinning the full election order: source priority beats
    length beats doc_id, and docs with distinct keys are their own
    survivors."""
    import tempfile

    shared = "the quick brown fox jumps over"  # 6-word canonical key
    rows = [
        (1, "src5", shared + " tail one padded out", 40),
        (2, "src2", shared + " other tail", 30),   # highest priority -> wins
        (3, "src2", shared + " longer body than doc two", 99),  # same rank, longer
        (4, "src0", "completely different opening words here now", 10),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, source string, text string, n_chars long"
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.mode("overwrite").parquet(f"{d}/documents.parquet")
        out = {r["doc_id"]: r for r in eng.QUERIES["dedup_priority"](spark, d).collect()}
    # group {1,2,3}: src2 outranks src5; within src2, n_chars 99 beats 30
    assert out[1]["survivor_id"] == 3 and not out[1]["kept"]
    assert out[2]["survivor_id"] == 3 and not out[2]["kept"]
    assert out[3]["kept"] and out[3]["survivor_source"] == "src2"
    assert out[3]["group_size"] == 3
    # singleton group keeps itself
    assert out[4]["kept"] and out[4]["survivor_id"] == 4 and out[4]["group_size"] == 1


def test_dedup_priority_one_survivor_per_group(spark, sf_dir):
    """Corpus-wide invariants: exactly one kept doc per canonical key, the
    survivor_id is that kept doc, and the redirect map is closed (every
    survivor_id exists and is itself kept)."""
    rows = eng.QUERIES["dedup_priority"](spark, sf_dir).collect()
    by_key = {}
    by_id = {r["doc_id"]: r for r in rows}
    for r in rows:
        by_key.setdefault(r["canon_key"], []).append(r)
    assert any(len(g) > 1 for g in by_key.values())  # dup groups exist at sf0.01
    for key, grp in by_key.items():
        kept = [r for r in grp if r["kept"]]
        assert len(kept) == 1
        assert all(r["survivor_id"] == kept[0]["doc_id"] for r in grp)
        assert all(r["group_size"] == len(grp) for r in grp)
    for r in rows:
        assert by_id[r["survivor_id"]]["kept"]


# ---------------------------------------------------------------------------
# C81 minhash_bbit_audit


def test_bbit_audit_python_twin_and_bounds(spark, sf_dir):
    """Python twin: recompute both agreement counts from raw shingles with
    the same permutation family — j_full and j_bbit must match exactly
    (round6 grain); structurally, low-bit agreement dominates full
    agreement on RAW counts (a matching minimum matches its low bits) —
    checked after undoing the debias; and on LSH candidates (near-dups)
    the debiased b-bit estimate stays close to exact."""
    import re

    from mapreduceimplementation_spark.functions.hashing import (
        MERSENNE_61,
        py_hash64,
    )
    from mapreduceimplementation_spark.operators.dedup import (
        _BBIT_C,
        _BBIT_MASK,
        _MH_A,
        _MH_B,
        _MH_C,
        _MH_K,
        _MH_MASK30,
        _MH_R_,
        _SHINGLE_N,
    )
    from mapreduceimplementation_spark.sources.tables import load_table

    def shingles(text):
        ws = [w for w in re.split("[^A-Za-z]+", text) if w]
        return {
            " ".join(ws[i : i + _SHINGLE_N])
            for i in range(len(ws) - _SHINGLE_N + 1)
        }

    def sig(sh_set):
        hs = [py_hash64(s) for s in sh_set]
        out = []
        for i in range(_MH_K):
            a, b, c, r = _MH_A[i], _MH_B[i], _MH_C[i], _MH_R_[i]
            out.append(
                min(
                    (a * ((h ^ r) >> 30) + b * ((h ^ r) & _MH_MASK30) + c)
                    % MERSENNE_61
                    for h in hs
                )
            )
        return out

    texts = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .collect()
        if r["text"] is not None
    }
    rows = eng.QUERIES["minhash_bbit_audit"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        sa, sb = shingles(texts[r["a_id"]]), shingles(texts[r["b_id"]])
        j_exact = len(sa & sb) / len(sa | sb)
        ga, gb = sig(sa), sig(sb)
        full_m = sum(x == y for x, y in zip(ga, gb))
        bbit_m = sum(
            (x & _BBIT_MASK) == (y & _BBIT_MASK) for x, y in zip(ga, gb)
        )
        assert abs(r["j_exact"] - j_exact) < 1e-6
        assert abs(r["j_full"] - full_m / _MH_K) < 1e-6
        want_bbit = (bbit_m / _MH_K - _BBIT_C) / (1 - _BBIT_C)
        assert abs(r["j_bbit"] - want_bbit) < 1e-6
        # raw-count dominance: a matching minimum matches its low bits,
        # so m_b >= m_f — undo the debias before comparing
        assert r["j_bbit"] * (1 - _BBIT_C) + _BBIT_C >= r["j_full"] - 1e-6
        assert abs(r["j_bbit"] - r["j_exact"]) < 0.25  # debiased, near-dup pairs


# r10: the Arrow-batched NumPy permutation kernel must agree bit-for-bit
# with the JVM expression form it replaced


def test_mh_sigs_arrow_kernel_matches_expression(spark, sf_dir):
    """_mh_sigs now computes the _MH_K permutation minima in a
    mapInArrow NumPy kernel (r10 optimization); this differential pins
    it to the original interpreted expression form value-for-value, so
    an int64 overflow or reduceat segmentation bug can never ship a
    drifted signature."""
    from mapreduceimplementation_spark.operators import dedup as dd
    from mapreduceimplementation_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    shd = dd._shingled(docs, spark).localCheckpoint(eager=True)
    got = dd._mh_sigs(shd).toPandas().sort_values("doc_id").reset_index(drop=True)
    # the pre-r10 expression form, inline
    expr = shd.select(
        "doc_id", F.transform("sh_arr", lambda s: dd.hash64(s)).alias("hs")
    ).select(
        "doc_id",
        *[
            F.array_min(
                F.transform(
                    F.col("hs"),
                    (lambda a, b, c, r: lambda h: dd._perm(h, a, b, c, r))(
                        dd._MH_A[i], dd._MH_B[i], dd._MH_C[i], dd._MH_R_[i]
                    ),
                )
            ).alias(f"m{i}")
            for i in range(dd._MH_K)
        ],
    )
    want = expr.toPandas().sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want, check_dtype=True)


def test_mh_kernel_skips_empty_batches():
    """An empty record batch yields nothing (it used to fail in
    ``lens.min()``); the batch after it is still processed."""
    import pyarrow as pa

    from mapreduceimplementation_spark.operators import dedup as dd

    def batch(ids, hs):
        return pa.RecordBatch.from_arrays(
            [pa.array(ids, type=pa.int64()), pa.array(hs, type=pa.list_(pa.int64()))],
            names=["doc_id", "hs"],
        )

    out = list(
        dd._mh_perm_minima_batches(iter([batch([], []), batch([7], [[3, 5]])]))
    )
    assert len(out) == 1
    assert out[0].num_rows == 1
    assert out[0].column(0).to_pylist() == [7]
    assert out[0].num_columns == 1 + dd._MH_K
