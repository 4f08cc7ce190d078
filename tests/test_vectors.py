"""Embedding operator tests (SURVEY.md §2 C9–C11, C13)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

import mapreduceimplementation_spark as eng

eng.load_all_operators()


def test_embed_normalize_unit_norm(spark, sf_dir):
    out = eng.QUERIES["embed_normalize"](spark, sf_dir).toPandas()
    assert (out["dim"] == 64).all()
    # unit_fp decodes back to a unit vector (fixed-point 1e-6 error budget)
    row = out.iloc[0]
    comps = [int(x) / 1e6 for x in row["unit_fp"].split(",")]
    assert len(comps) == 64
    assert abs(sum(c * c for c in comps) - 1.0) < 1e-4


def test_ann_topk_shape_and_order(spark, sf_dir):
    out = eng.QUERIES["ann_topk"](spark, sf_dir).toPandas()
    assert len(out) == 8 * 10
    for q, grp in out.groupby("q_id"):
        g = grp.sort_values("rank")
        assert list(g["rank"]) == list(range(1, 11))
        assert list(g["cos"]) == sorted(g["cos"], reverse=True)
        assert (g["neighbor_id"] != q).all()


def test_ann_lsh_subset_of_bruteforce_universe(spark, sf_dir):
    """LSH candidates are a subset of all neighbors; per query its best hit
    can't beat the brute-force rank-1 cosine."""
    bf = eng.QUERIES["ann_topk"](spark, sf_dir).toPandas()
    lsh = eng.QUERIES["ann_lsh"](spark, sf_dir).toPandas()
    best_bf = bf[bf["rank"] == 1].set_index("q_id")["cos"]
    for q, grp in lsh.groupby("q_id"):
        assert grp["cos"].max() <= best_bf[q] + 1e-9


def test_ann_ivf_subset_of_bruteforce_universe(spark, sf_dir):
    """IVF results rank real neighbors: per query its best probed hit
    can't beat the brute-force rank-1 cosine, and ranks are 1..k dense."""
    bf = eng.QUERIES["ann_topk"](spark, sf_dir).toPandas()
    ivf = eng.QUERIES["ann_ivf"](spark, sf_dir).toPandas()
    best_bf = bf[bf["rank"] == 1].set_index("q_id")["cos"]
    for q, grp in ivf.groupby("q_id"):
        assert grp["cos"].max() <= best_bf[q] + 1e-9
        assert sorted(grp["rank"]) == list(range(1, len(grp) + 1))


def test_ivf_recall_audit_consistent(spark, sf_dir):
    """C53 must agree with what composing the two audited operators says:
    caught == |exact top-k ∩ IVF candidate universe|, recall in (0, 1],
    and every query from ann_topk gets an audit row."""
    bf = eng.QUERIES["ann_topk"](spark, sf_dir).toPandas()
    ivf = eng.QUERIES["ann_ivf"](spark, sf_dir).toPandas()
    audit = eng.QUERIES["ivf_recall_audit"](spark, sf_dir).toPandas()
    assert set(audit["q_id"]) == set(bf["q_id"])
    assert (audit["n_caught"] <= audit["n_exact"]).all()
    assert (audit["recall"] > 0).all() and (audit["recall"] <= 1).all()
    # ann_ivf's top-k is a subset of the candidate universe the audit
    # joins against, so per query: caught >= |exact ∩ ivf-top-k|
    exact_pairs = set(zip(bf["q_id"], bf["neighbor_id"]))
    ivf_hits = {
        q: sum((q, n) in exact_pairs for n in grp["neighbor_id"])
        for q, grp in ivf.groupby("q_id")
    }
    got = audit.set_index("q_id")["n_caught"]
    for q, low in ivf_hits.items():
        assert got[q] >= low


def test_dedup_embedding_pairs(spark, sf_dir):
    out = eng.QUERIES["dedup_embedding"](spark, sf_dir).toPandas()
    assert (out["cos"] >= 0.4).all()
    assert (out["a_id"] < out["b_id"]).all()
    pairs = list(zip(out["a_id"], out["b_id"]))
    assert len(pairs) == len(set(pairs))


def test_kmeans_embed_lloyd_properties(spark, sf_dir):
    """C15: every vector lands in one of <= k clusters with a sane
    distance, and iterating moved at least one vector off its seed-round
    cluster (the update loop is not vacuous).  Exactness vs an
    independent engine is the driver's oracle gate."""
    from mapreduceimplementation_spark.operators.vectors import (
        _KM_K,
        _km_assign,
        _km_quantized,
    )

    out = eng.QUERIES["kmeans_embed"](spark, sf_dir).toPandas()
    vq = _km_quantized(spark, sf_dir)
    assert len(out) == vq.count()
    assert out["cluster"].nunique() <= _KM_K
    assert (out["dist"] >= 0).all()

    seeds = {
        int(r["vec_id"]): [int(x) for x in r["q"]]
        for r in vq.where("vec_id < %d" % _KM_K).collect()
    }
    first = _km_assign(vq, seeds).toPandas()
    merged = out.merge(first, on="vec_id", suffixes=("_final", "_seed"))
    assert (merged["cluster_final"] != merged["cluster_seed"]).any()


def test_knn_graph_shape_and_symmetric_candidates(spark, sf_dir):
    """C21: at most k ranked neighbors per source, ranks contiguous from 1,
    no self-edges, and every reported cosine is genuinely the cosine of
    the two vectors (spot-checked via numpy on a sample)."""
    out = eng.QUERIES["knn_graph"](spark, sf_dir).toPandas()
    assert len(out) > 0
    assert (out["src"] != out["dst"]).all()
    g = out.groupby("src")["rank"]
    assert (g.max() <= 3).all()
    assert (g.min() == 1).all()
    assert (g.count() == g.max()).all()  # ranks 1..m with no gaps

    import numpy as np

    from mapreduceimplementation_spark.sources.tables import load_table

    sample = out.head(20)
    needed = set(sample["src"]) | set(sample["dst"])
    vecs = {
        r["vec_id"]: np.array(r["embedding"], dtype="float64")
        for r in load_table(spark, sf_dir, "embeddings")
        .where(F.col("vec_id").isin(*needed))
        .collect()
    }
    for _, row in sample.iterrows():
        a, b = vecs[row["src"]], vecs[row["dst"]]
        expect = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert abs(expect - row["cos"]) < 1e-5


def test_knn_graph_matches_oracle(spark, sf_dir, duck):
    from tests.conftest import assert_same_result

    df = eng.QUERIES["knn_graph"](spark, sf_dir)
    assert_same_result(df, duck, eng.ORACLES["knn_graph"])


def test_pagerank_knn_invariants(spark, sf_dir):
    """C24: every node gets a rank row; total mass never exceeds the
    initial unit budget (truncating division only leaks mass); no rank
    falls below the teleport floor; and nodes with no in-edges sit
    exactly AT the floor."""
    from mapreduceimplementation_spark.operators.vectors import (
        _PR_UNITS,
        knn_graph,
    )

    out = eng.QUERIES["pagerank_knn"](spark, sf_dir).toPandas()
    n = len(out)
    assert n == eng.QUERIES["embed_normalize"](spark, sf_dir).count()
    base = (3 * _PR_UNITS) // (20 * n)
    assert (out["rank_units"] >= base).all()
    assert out["rank_units"].sum() <= _PR_UNITS
    dsts = {r["dst"] for r in knn_graph(spark, sf_dir).select("dst").collect()}
    no_in = out[~out["vec_id"].isin(dsts)]
    assert len(no_in) > 0  # LSH-isolated nodes exist at this sf
    assert (no_in["rank_units"] == base).all()


def test_pca_power_iter_matches_python_twin(spark, sf_dir):
    """C26: replicate the exact integer algorithm in plain Python (numpy
    int64 would also work) and require bit-identical output — the
    strongest oracle-independent check for an iterative op.  Also sanity:
    the direction is not degenerate (non-zero in many dimensions)."""
    from mapreduceimplementation_spark.operators.vectors import (
        _DIM,
        _PCA_ITERS,
        _PCA_S,
        _km_quantized,
        _trunc_div,
    )

    q = {
        int(r["vec_id"]): [int(x) for x in r["q"]]
        for r in _km_quantized(spark, sf_dir).collect()
    }
    v = [_PCA_S] * _DIM
    for _ in range(_PCA_ITERS):
        y = [0] * _DIM
        for row in q.values():
            s = _trunc_div(sum(a * b for a, b in zip(row, v)), _PCA_S)
            for j in range(_DIM):
                y[j] += row[j] * s
        m = max(abs(x) for x in y)
        d = max(_trunc_div(m, _PCA_S), 1)
        v = [_trunc_div(x, d) for x in y]

    out = {
        r["dim"]: r["component"]
        for r in eng.QUERIES["pca_power_iter"](spark, sf_dir).collect()
    }
    assert out == {j: v[j] for j in range(_DIM)}
    assert sum(1 for x in v if x != 0) > _DIM // 2


def test_lsh_bits_derivation_and_occupancy(spark):
    """C21 parameter-scaling law: the shipped _KNN_BITS must equal the
    bits-from-n derivation at the sf0.1 corpus size (no hand-tuned magic
    that silently ships to a 100x deploy), and deriving bits at two real
    corpus sizes must keep expected bucket occupancy near the target —
    the quantity the candidate volume L*n^2/2^bits is linear in."""
    from mapreduceimplementation_spark.operators.vectors import (
        _KNN_BITS,
        _buckets,
        _normed,
        lsh_bits_for,
    )

    assert lsh_bits_for(2000) == _KNN_BITS
    # monotone + ~linear scaling: 100x corpus -> 2^bits within 2x of 100x
    assert lsh_bits_for(200_000) - lsh_bits_for(2000) in (6, 7)

    import os

    from tests.conftest import SF_DIR

    base = os.path.dirname(SF_DIR.rstrip("/"))
    target = 8
    for d in (SF_DIR, os.path.join(base, "sf0.1")):
        n_df = _normed(spark, d)
        n = n_df.count()
        bits = lsh_bits_for(n, target)
        occ = (
            _buckets(n_df, "knn", 1, bits)
            .groupBy("code")
            .count()
            .agg(F.avg("count").alias("mean"), F.max("count").alias("mx"))
            .collect()[0]
        )
        # mean occupancy within [target/4, 4*target]; no hot bucket beyond
        # hash-variance range (hyperplane codes are not perfectly uniform)
        assert target / 4 <= occ["mean"] <= 4 * target, (d, n, bits, occ)
        assert occ["mx"] <= 16 * target, (d, n, bits, occ)


def test_ann_ivf_kmeans_subset_of_bruteforce_universe(spark, sf_dir):
    """C30: trained-cell IVF ranks real neighbors — per query its best
    probed hit can't beat the brute-force rank-1 cosine, ranks are dense
    from 1, and every neighbor's cell is one of the query's probed
    cells (the inverted-file contract)."""
    bf = eng.QUERIES["ann_topk"](spark, sf_dir).toPandas()
    ivf = eng.QUERIES["ann_ivf_kmeans"](spark, sf_dir).toPandas()
    assert len(ivf) > 0
    best_bf = bf[bf["rank"] == 1].set_index("q_id")["cos"]
    for q, grp in ivf.groupby("q_id"):
        assert grp["cos"].max() <= best_bf[q] + 1e-9
        assert sorted(grp["rank"]) == list(range(1, len(grp) + 1))
        assert (grp["neighbor_id"] != q).all()


def test_dedup_semantic_matches_oracle(spark, sf_dir, duck):
    from tests.conftest import assert_same_result

    df = eng.QUERIES["dedup_semantic"](spark, sf_dir)
    assert_same_result(df, duck, eng.ORACLES["dedup_semantic"])


def test_dedup_semantic_survivor_rule(spark, sf_dir):
    """C32: pairs are co-clustered with cos >= tau, and drop_id is the
    member CLOSER to the centroid (SemDeDup keeps the farther one),
    checked against the kmeans_embed assignment it reuses."""
    from mapreduceimplementation_spark.operators.vectors import _SEM_TAU

    out = eng.QUERIES["dedup_semantic"](spark, sf_dir).toPandas()
    assert len(out) > 0
    assert (out["cos"] >= _SEM_TAU).all()
    assert (out["a_id"] < out["b_id"]).all()
    km = (
        eng.QUERIES["kmeans_embed"](spark, sf_dir)
        .toPandas()
        .set_index("vec_id")
    )
    for row in out.itertuples(index=False):
        ca, cb = km.loc[row.a_id], km.loc[row.b_id]
        assert ca["cluster"] == cb["cluster"] == row.cluster
        assert row.drop_id in (row.a_id, row.b_id)
        if ca["dist"] != cb["dist"]:
            closer = row.a_id if ca["dist"] < cb["dist"] else row.b_id
            assert row.drop_id == closer
        else:
            assert row.drop_id == row.b_id  # tie drops the larger id


# ---------------------------------------------------------------------------
# C36. embedding_outliers


def test_embedding_outliers_matches_oracle(spark, sf_dir, duck):
    from tests.conftest import assert_same_result

    df = eng.QUERIES["embedding_outliers"](spark, sf_dir)
    assert_same_result(df, duck, eng.ORACLES["embedding_outliers"])


def test_embedding_outliers_invariants(spark, sf_dir):
    """Every vector scored exactly once; distances non-negative; within
    each label the rounded z-scores average ~0 and the outlier flag is
    exactly |z| > 2."""
    out = eng.QUERIES["embedding_outliers"](spark, sf_dir).toPandas()
    from mapreduceimplementation_spark.sources.tables import load_table

    n = load_table(spark, sf_dir, "embeddings").count()
    assert len(out) == n
    assert out["vec_id"].is_unique
    assert (out["dist"] >= 0).all()
    # is_outlier comes from the UNROUNDED z; the emitted z is rounded at
    # 6dp, so only compare the flag where |z| is clear of the threshold
    # by more than half an ulp at 6dp (a raw z in (2, 2.0000005) rounds
    # to exactly 2.000000 while the flag is legitimately True).
    clear = (out["z"].abs() - 2.0).abs() > 1e-6
    assert (
        out.loc[clear, "is_outlier"] == (out.loc[clear, "z"].abs() > 2.0)
    ).all()
    for _, grp in out.groupby("label"):
        assert abs(grp["z"].mean()) < 0.01
        # z-scores standardize: some mass beyond neither bound collapses
        assert grp["z"].abs().max() > 0


# ---------------------------------------------------------------------------
# C39. knn_triangles


def test_knn_triangles_matches_oracle(spark, sf_dir, duck):
    from tests.conftest import assert_same_result

    df = eng.QUERIES["knn_triangles"](spark, sf_dir)
    assert_same_result(df, duck, eng.ORACLES["knn_triangles"])


def test_knn_triangles_brute_force(spark, sf_dir):
    """Exactly recount triangles with a driver-side set intersection over
    the same undirected edge set, and pin the invariants (clustering in
    [0,1], wedges >= 3*triangles)."""
    out = eng.QUERIES["knn_triangles"](spark, sf_dir).collect()[0]
    edges = {
        (min(r["src"], r["dst"]), max(r["src"], r["dst"]))
        for r in eng.QUERIES["knn_graph"](spark, sf_dir).collect()
    }
    adj: dict[int, set[int]] = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    tri = sum(
        len(adj[u] & adj[v]) for u, v in edges
    ) // 3
    assert out["n_triangles"] == tri
    assert out["n_edges"] == len(edges)
    assert out["n_nodes"] == len(adj)
    assert out["n_wedges"] >= 3 * out["n_triangles"]
    assert 0.0 <= out["clustering"] <= 1.0


# ---------------------------------------------------------------------------
# C47 embedding_quantize


def test_quantize_codes_and_reconstruction(spark, sf_dir):
    """Codes are 8-bit, the grid is the per-dim corpus [min,max], and
    floor quantization reconstructs within one step everywhere."""
    import numpy as np

    from mapreduceimplementation_spark.operators.vectors import _QUANT_LEVELS
    from mapreduceimplementation_spark.sources.tables import load_table

    out = eng.QUERIES["embedding_quantize"](spark, sf_dir).toPandas()
    emb = load_table(spark, sf_dir, "embeddings").toPandas()
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for _, r in emb.iterrows() if len(r["embedding"])}
    mat = np.stack(list(vecs.values()))
    mins, maxs = mat.min(axis=0), mat.max(axis=0)
    step = (maxs - mins) / (_QUANT_LEVELS - 1)
    assert len(out) == len(vecs)
    for _, r in out.iterrows():
        q = np.array([int(c) for c in r["codes_fp"].split(",")])
        assert r["dim"] == len(q)
        assert q.min() >= 0 and q.max() <= _QUANT_LEVELS - 1
        x = vecs[r["vec_id"]]
        recon = mins + q * step
        # floor quantization: x in [recon, recon + step]
        assert (x - recon >= -1e-9).all()
        assert (x - recon <= step + 1e-9).all()


def test_quantize_constant_dim_is_zero(spark):
    """A constant dimension (max == min) must emit code 0, not NaN/255."""
    import tempfile

    rows = [(1, [1.0, 5.0]), (2, [1.0, -5.0]), (3, [1.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    with tempfile.TemporaryDirectory() as d:
        df.write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
        out = {r["vec_id"]: r["codes_fp"]
               for r in eng.QUERIES["embedding_quantize"](spark, d).collect()}
    assert all(c.split(",")[0] == "0" for c in out.values())
    # dim 2 spans [-5, 5]: 5.0 -> 255, -5.0 -> 0, 0.0 -> floor(127.5) = 127
    assert out[1].split(",")[1] == "255"
    assert out[2].split(",")[1] == "0"
    assert out[3].split(",")[1] == "127"


def test_embedding_pq_matches_brute_force(spark, sf_dir):
    """C60 against a pure-Python PQ encoder: identical codebook (k-min
    seeds by hash), identical per-subspace argmin codes, identical
    micro-unit reconstruction error — and the plan never shuffles the
    corpus (r10: assignment is an Arrow kernel against the collected
    model-sized codebook; pre-r10 it was a one-row codebook broadcast)."""
    import numpy as np
    import pandas as pd

    import mapreduceimplementation_spark as eng
    from mapreduceimplementation_spark.functions.hashing import py_hash64
    from mapreduceimplementation_spark.operators.vectors import (
        _PQ_DSUB,
        _PQ_K,
        _PQ_M,
    )

    df = eng.QUERIES["embedding_pq"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan
    out = df.toPandas().set_index("vec_id").sort_index()

    emb = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    emb = emb[emb["embedding"].map(len) > 0]
    seeds = sorted(
        emb["vec_id"], key=lambda v: (py_hash64(f"pq{v}"), v)
    )[:_PQ_K]
    cb = {
        int(r["vec_id"]): np.asarray(r["embedding"], dtype=np.float32)
        for _, r in emb.iterrows()
        if int(r["vec_id"]) in set(seeds)
    }
    codebook = [cb[v] for v in seeds]  # k = index

    n_checked = 0
    for vid, r in emb.set_index("vec_id").iterrows():
        x = np.asarray(r["embedding"], dtype=np.float32)
        codes, err = [], 0.0
        for m in range(_PQ_M):
            lo, hi = m * _PQ_DSUB, (m + 1) * _PQ_DSUB
            best_d, best_k = None, -1
            for k, c in enumerate(codebook):
                d = 0.0
                for j in range(lo, hi):
                    t = float(x[j]) - float(c[j])
                    d += t * t
                if best_d is None or d < best_d:
                    best_d, best_k = d, k
            codes.append(best_k)
            err += best_d
        row = out.loc[vid]
        assert row["pq_fp"] == ",".join(map(str, codes)), vid
        assert row["recon_err_micro"] == int(np.floor(err * 1_000_000.0)), vid
        n_checked += 1
        if n_checked >= 60:
            break
    assert n_checked >= 60


def test_ann_ivfpq_adc_and_candidates(spark, sf_dir, duck):
    """C62: oracle parity; every reported ADC equals the Python-recomputed
    LUT sum over the neighbor's PQ codes (codebook + codes re-derived from
    scratch); every reported neighbor lies in one of the query's nprobe
    IVF cells; ranks are dense and ADC-monotone."""
    import math

    import numpy as np
    import pandas as pd

    import mapreduceimplementation_spark as eng
    from tests.conftest import assert_same_result

    from mapreduceimplementation_spark.functions.hashing import py_hash64
    from mapreduceimplementation_spark.operators.vectors import (
        _IVF_NPROBE,
        _PQ_DSUB,
        _PQ_K,
        _PQ_M,
        _centroid,
        _centroid_norm,
        _IVF_K,
    )

    df = eng.QUERIES["ann_ivfpq"](spark, sf_dir)
    assert_same_result(df, duck, eng.ORACLES["ann_ivfpq"])
    out = df.toPandas()

    emb = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    emb = emb[emb["embedding"].map(len) > 0]
    vec = {
        int(r["vec_id"]): np.asarray(r["embedding"], dtype=np.float32)
        for _, r in emb.iterrows()
    }
    seeds = sorted(vec, key=lambda v: (py_hash64(f"pq{v}"), v))[:_PQ_K]
    codebook = [vec[v] for v in seeds]

    def sub_dist(x, c, m):
        d = 0.0
        for j in range(m * _PQ_DSUB, (m + 1) * _PQ_DSUB):
            t = float(x[j]) - float(c[j])
            d += t * t
        return d

    def codes_of(x):
        return [
            min(range(_PQ_K), key=lambda k: (sub_dist(x, codebook[k], m), k))
            for m in range(_PQ_M)
        ]

    def cell_scores(x):
        scores = []
        for k in range(_IVF_K):
            c = _centroid(k)
            acc = 0.0
            for a, b in zip(x, c):
                acc = acc + float(a) * b
            scores.append(acc / _centroid_norm(k))
        return scores

    cell = {v: max(range(_IVF_K), key=lambda k: (cell_scores(x)[k], -k)) for v, x in vec.items()}

    for _, r in out.iterrows():
        q, nb = int(r["q_id"]), int(r["neighbor_id"])
        # ADC recompute: fold LUT entries in m order
        cds = codes_of(vec[nb])
        acc = 0.0
        for m in range(_PQ_M):
            acc = acc + sub_dist(vec[q], codebook[cds[m]], m)
        assert r["adc_micro"] == math.floor(acc * 1_000_000.0), (q, nb)
        # neighbor's cell must be among the query's nprobe best cells
        qs = cell_scores(vec[q])
        probed = sorted(range(_IVF_K), key=lambda k: (-qs[k], k))[:_IVF_NPROBE]
        assert cell[nb] in probed, (q, nb)
    for _, g in out.groupby("q_id"):
        g = g.sort_values("rank")
        assert list(g["rank"]) == list(range(1, len(g) + 1))
        assert (g["adc_micro"].diff().dropna() >= 0).all()


# ---------------------------------------------------------------------------
# C66 embedding_hard_negatives


def test_hard_negatives_matches_oracle(spark, sf_dir, duck):
    from tests.conftest import assert_same_result

    df = eng.QUERIES["embedding_hard_negatives"](spark, sf_dir)
    assert_same_result(df, duck, eng.ORACLES["embedding_hard_negatives"])


def test_hard_negatives_brute_force(spark, sf_dir):
    """C66 against a driver-side brute force over the real sf table:
    for every probe, the positive is THE nearest same-label vector, the
    negatives are THE top-k different-label vectors in (cos desc, id)
    order, margins are pos-neg at micro grain, and violation flags
    agree."""
    import math

    from mapreduceimplementation_spark.operators.vectors import _HN_K, _Q_MAX
    from mapreduceimplementation_spark.sources.tables import load_table

    emb = {
        r["vec_id"]: (list(r["embedding"]), r["label"])
        for r in load_table(spark, sf_dir, "embeddings").collect()
    }

    def cos6(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        q = d / (na * nb) * 1e6
        r = -math.floor(-q + 0.5) if q < 0 else math.floor(q + 0.5)
        return r / 1e6

    out = eng.QUERIES["embedding_hard_negatives"](spark, sf_dir).toPandas()
    probes = [i for i in emb if i < _Q_MAX]
    for q in probes:
        qv, ql = emb[q]
        scored = [
            (cos6(qv, v), i, lab)
            for i, (v, lab) in emb.items()
            if i != q
        ]
        same = sorted(
            [(c, i) for c, i, lab in scored if lab == ql],
            key=lambda t: (-t[0], t[1]),
        )
        diff = sorted(
            [(c, i, lab) for c, i, lab in scored if lab != ql],
            key=lambda t: (-t[0], t[1]),
        )
        rows = out[out["q_id"] == q].sort_values("neg_rank")
        if not same:
            assert len(rows) == 0, q
            continue
        pos_cos, pos_id = same[0]
        want_k = min(_HN_K, len(diff))
        assert len(rows) == want_k, q
        for rank, (_, r) in enumerate(rows.iterrows(), start=1):
            nc, ni, nl = diff[rank - 1]
            assert r["pos_id"] == pos_id and r["pos_cos"] == pos_cos, q
            assert (r["neg_id"], r["neg_rank"]) == (ni, rank), q
            assert r["neg_cos"] == nc and r["neg_label"] == nl, q
            m = (pos_cos - nc) * 1e6
            mm = -math.floor(-m + 0.5) if m < 0 else math.floor(m + 0.5)
            assert r["margin_micro"] == mm, q
            assert bool(r["is_violation"]) == (nc >= pos_cos), q


def test_hard_negatives_plan_shape(spark, sf_dir):
    """C66 scale shape: probes broadcast against ONE corpus stream (the
    C10 BNLJ-by-design), no sort-merge join, no cartesian product."""
    df = eng.QUERIES["embedding_hard_negatives"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan


# ---------------------------------------------------------------------------
# C67 embedding_matryoshka_eval


def test_matryoshka_matches_oracle(spark, sf_dir, duck):
    from tests.conftest import assert_same_result

    df = eng.QUERIES["embedding_matryoshka_eval"](spark, sf_dir)
    assert_same_result(df, duck, eng.ORACLES["embedding_matryoshka_eval"])


def test_matryoshka_brute_force(spark, sf_dir):
    """C67 against a driver-side brute force: per probe and depth the
    truncated top-k set is re-derived in Python and the overlap/recall
    recomputed; the full-dim row must be recall 1.0 exactly."""
    import math

    from mapreduceimplementation_spark.operators.vectors import (
        _MRL_DIMS,
        _Q_MAX,
        _TOPK,
    )
    from mapreduceimplementation_spark.sources.tables import load_table

    emb = {
        r["vec_id"]: list(r["embedding"])
        for r in load_table(spark, sf_dir, "embeddings").collect()
    }

    def cos6(a, b, d):
        s = sum(a[i] * b[i] for i in range(d))
        na = math.sqrt(sum(a[i] * a[i] for i in range(d)))
        nb = math.sqrt(sum(b[i] * b[i] for i in range(d)))
        q = s / (na * nb) * 1e6
        r = -math.floor(-q + 0.5) if q < 0 else math.floor(q + 0.5)
        return r / 1e6

    def topk(qid, d):
        scored = sorted(
            ((cos6(emb[qid], v, d), i) for i, v in emb.items() if i != qid),
            key=lambda t: (-t[0], t[1]),
        )[:_TOPK]
        return [i for _, i in scored]

    out = eng.QUERIES["embedding_matryoshka_eval"](spark, sf_dir).toPandas()
    probes = [i for i in emb if i < _Q_MAX]
    assert len(out) == len(probes) * len(_MRL_DIMS)
    for q in probes:
        want_full = set(topk(q, 64))
        for d in _MRL_DIMS:
            row = out[(out["q_id"] == q) & (out["trunc_dim"] == d)]
            assert len(row) == 1, (q, d)
            row = row.iloc[0]
            ov = len(set(topk(q, d)) & want_full)
            assert row["n_top"] == _TOPK, (q, d)
            assert row["n_overlap"] == ov, (q, d)
            assert row["recall_ppm"] == (ov * 1000000) // _TOPK, (q, d)
    full_rows = out[out["trunc_dim"] == 64]
    assert (full_rows["recall_ppm"] == 1000000).all()


# ---------------------------------------------------------------------------
# C68 corpus_semantic_decontaminate


def test_semantic_decontaminate_brute_force(spark, sf_dir, duck):
    """C68: oracle match, then a driver-side brute force re-derives every
    corpus vector's nearest-benchmark cosine, argmax tie-break, above-
    threshold count, and verdict."""
    import math

    from tests.conftest import assert_same_result
    from mapreduceimplementation_spark.operators.vectors import _SD_Q, _SD_TAU
    from mapreduceimplementation_spark.sources.tables import load_table

    df = eng.QUERIES["corpus_semantic_decontaminate"](spark, sf_dir)
    assert_same_result(df, duck, eng.ORACLES["corpus_semantic_decontaminate"])

    emb = {
        r["vec_id"]: list(r["embedding"])
        for r in load_table(spark, sf_dir, "embeddings").collect()
    }

    def cos6(a, b):
        d = sum(x * y for x, y in zip(a, b))
        q = (
            d
            / (
                math.sqrt(sum(x * x for x in a))
                * math.sqrt(sum(x * x for x in b))
            )
            * 1e6
        )
        r = -math.floor(-q + 0.5) if q < 0 else math.floor(q + 0.5)
        return r / 1e6

    out = df.toPandas().set_index("vec_id")
    probes = {i: v for i, v in emb.items() if i < _SD_Q}
    corpus = {i: v for i, v in emb.items() if i >= _SD_Q}
    assert sorted(out.index) == sorted(corpus)
    for i, v in corpus.items():
        scored = sorted(
            ((cos6(v, p), pid) for pid, p in probes.items()),
            key=lambda t: (-t[0], t[1]),
        )
        mc, bp = scored[0]
        row = out.loc[i]
        assert row["max_cos"] == mc, i
        assert row["best_probe"] == bp, i
        assert row["n_above"] == sum(1 for c, _ in scored if c >= _SD_TAU), i
        assert bool(row["contaminated"]) == (mc >= _SD_TAU), i


def test_semantic_decontaminate_plan_shape(spark, sf_dir):
    """C68 scale shape: the benchmark set broadcasts against ONE corpus
    stream; the argmax and the above-count share one vec_id window
    exchange (no second hashpartitioning on vec_id, no sort-merge)."""
    df = eng.QUERIES["corpus_semantic_decontaminate"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


# ---------------------------------------------------------------------------
# C82 embedding_label_recall


def test_label_recall_consistent_with_ann_topk(spark, sf_dir):
    """C82 must be exactly the label rollup of C10's top-k table: same
    probes, n_hits = count of label-matching neighbors, ppm by integer
    floor division, top1_hit = rank-1 match; sample_mod keeps every
    probe while shrinking the corpus side."""
    from mapreduceimplementation_spark.operators.vectors import _TOPK
    from mapreduceimplementation_spark.sources.tables import load_table

    labels = {
        r["vec_id"]: r["label"]
        for r in load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "label")
        .collect()
    }
    topk = eng.QUERIES["ann_topk"](spark, sf_dir).collect()
    want = {}
    for r in topk:
        q = r["q_id"]
        hit = labels[r["neighbor_id"]] == labels[q]
        h, t1 = want.get(q, (0, False))
        want[q] = (h + hit, t1 or (r["rank"] == 1 and hit))
    got = {
        r["q_id"]: r
        for r in eng.QUERIES["embedding_label_recall"](spark, sf_dir).collect()
    }
    assert set(got) == set(want)
    for q, (h, t1) in want.items():
        assert got[q]["n_hits"] == h
        assert got[q]["precision_ppm"] == (h * 1_000_000) // _TOPK
        assert got[q]["top1_hit"] == t1
        assert got[q]["label"] == labels[q]
    # sampled run (the BASELINE_CLASS escape): probes all present
    from mapreduceimplementation_spark.operators.vectors import (
        embedding_label_recall,
    )

    samp = {
        r["q_id"]: r["n_hits"]
        for r in embedding_label_recall(spark, sf_dir, sample_mod=4).collect()
    }
    assert set(samp) == set(want)


# r10: the Arrow-batched LSH bucket kernel must agree bit-for-bit with
# the expression form it replaced (fold order, NaN ordering, short rows)


def test_buckets_arrow_kernel_matches_expression(spark, sf_dir):
    from mapreduceimplementation_spark.operators import vectors as V

    n = V._normed(spark, sf_dir)
    for seed, tables, bits in (
        ("knn", V._KNN_TABLES, V._KNN_BITS),
        ("de", V._DE_TABLES, V._DE_BITS),
    ):
        got = (
            V._buckets(n, seed, tables, bits)
            .toPandas()
            .sort_values(["vec_id", "t"])
            .reset_index(drop=True)
        )
        want = (
            V._buckets_expr(n, seed, tables, bits)
            .toPandas()
            .sort_values(["vec_id", "t"])
            .reset_index(drop=True)
        )
        assert got.equals(want), (seed, tables, bits)


def test_buckets_arrow_kernel_edge_rows(spark):
    """Short and null vectors emit code 0 for every table — the exact
    null-fold semantics of the old expression; NaN dims keep the
    Spark/DuckDB NaN-is-largest ordering (bit set)."""
    import math

    from mapreduceimplementation_spark.operators import vectors as V

    df = spark.createDataFrame(
        [
            (1, [0.5] * V._DIM),
            (2, [0.5] * 3),  # short: every bit nulls out -> code 0
            (3, [math.nan] * V._DIM),  # NaN dot: NaN >= 0 is true in Spark
            (4, None),  # null vector: null dot -> code 0, like a short one
        ],
        "vec_id long, v array<double>",
    )
    got = (
        V._buckets(df, "knn", 2, 3)
        .toPandas()
        .sort_values(["vec_id", "t"])
        .reset_index(drop=True)
    )
    want = (
        V._buckets_expr(df, "knn", 2, 3)
        .toPandas()
        .sort_values(["vec_id", "t"])
        .reset_index(drop=True)
    )
    assert got.equals(want)
    assert list(got[got.vec_id == 2]["code"]) == [0, 0]
    assert list(got[got.vec_id == 3]["code"]) == [7, 7]
    assert list(got[got.vec_id == 4]["code"]) == [0, 0]


def test_buckets_kernel_null_vector_batch():
    """Driven directly: a batch mixing a null vector with a full one."""
    import pyarrow as pa

    from mapreduceimplementation_spark.operators import vectors as V

    batch = pa.RecordBatch.from_arrays(
        [
            pa.array([1, 2], type=pa.int64()),
            pa.array([None, [0.5] * V._DIM], type=pa.list_(pa.float64())),
        ],
        names=["vec_id", "v"],
    )
    (out,) = V._make_buckets_kernel("knn", 2, 3)(iter([batch]))
    rows = out.to_pylist()
    assert [r["vec_id"] for r in rows] == [1, 1, 2, 2]
    assert [r["code"] for r in rows[:2]] == [0, 0]


def test_pq_encode_kernel_matches_fold(spark, sf_dir):
    """r10: the Arrow PQ encode kernel must match the _pq_best fold form
    code-for-code and bit-for-bit on distances/errors."""
    import pandas as pd
    from pyspark.sql import functions as F

    from mapreduceimplementation_spark.operators import vectors as V

    emb = V._pq_emb(spark, sf_dir).localCheckpoint(eager=True)
    cb_row = V._pq_codebook_row(emb)
    codes = F.transform(
        F.sequence(F.lit(0), F.lit(V._PQ_M - 1)), lambda m: V._pq_best("e", m)
    )
    want = (
        emb.crossJoin(F.broadcast(cb_row))
        .select("vec_id", codes.alias("codes"))
        .select(
            "vec_id",
            F.array_join(
                F.transform("codes", lambda c: c["k"].cast("string")), ","
            ).alias("pq_fp"),
            F.floor(
                F.aggregate("codes", F.lit(0.0), lambda acc, c: acc + c["d"])
                * 1000000.0
            )
            .cast("long")
            .alias("recon_err_micro"),
        )
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    got = (
        emb.select("vec_id", "e")
        .mapInArrow(
            V._make_pq_encode_kernel(V._pq_codebook_np(emb), with_err=True),
            "vec_id long, pq_fp string, recon_err_micro long",
        )
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=True)
