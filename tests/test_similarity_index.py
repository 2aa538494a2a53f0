"""Persisted RHP-LSH ANN index: partition pruning + parity with the
scan-based path + by-share OBST weighting."""

import numpy as np
from pyspark.sql import functions as F

from ip_filter_spark.operators.similarity import RHPIndex, rhp_bucketed_topk


def _emb(spark, n=400, dim=16, seed=9):
    rng = np.random.default_rng(seed)
    M = rng.standard_normal((n, dim)).astype(np.float32)
    rows = [(int(i), [float(x) for x in M[i]]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>"), M


def test_rhp_index_parity_and_pruning(spark, tmp_path):
    emb, M = _emb(spark)
    path = str(tmp_path / "rhp_index")
    idx = RHPIndex.build(emb, path, bits=8, seed=42)
    q = [float(x) for x in M[0]]
    via_index = [tuple(r) for r in idx.topk(q, k=5, multiprobe=2).collect()]
    via_scan = [tuple(r) for r in rhp_bucketed_topk(emb, q, k=5, bits=8, seed=42, multiprobe=2).collect()]
    assert via_index == via_scan
    # the index scan must prune partitions: PartitionFilters on bucket
    from ip_filter_spark.operators.similarity import _probe_buckets

    probes = _probe_buckets(q, 8, 42, 2)
    plan = spark._jvm.PythonSQLUtils.explainString(idx.scan(probes)._jdf.queryExecution(), "formatted")
    assert "PartitionFilters" in plan and "bucket" in plan, plan
    # and the probed-bucket count is the multiprobe formula, << 2^bits
    assert len(probes) == 1 + 8 + 8 * 7 // 2


def test_by_share_obst_weighting(spark):
    """Exact space-share semantics on a CIDR-like bit domain: a /8 with
    a nested /9 child keeps only half its span; depth weights follow."""
    from ip_filter_spark.operators.lpm import PathLPM

    # routes: 1 x /1 ("0"), its child /2 ("0/0") covers half of it
    routes = spark.createDataFrame(
        [("0", 1), ("0/0", 2), ("1/1", 2)], "prefix string, depth int"
    )
    stats = routes.groupBy("depth").count().orderBy("depth").collect()
    depths = [r.depth for r in stats]
    # BMP table: "0/0" has ancestor "0"; "1/1" has none
    with_bmp = spark.createDataFrame(
        [("0", 1, 0), ("0/0", 2, 1), ("1/1", 2, 0)], "p string, depth int, bmp_depth int"
    )
    w = PathLPM._share_weights(with_bmp, depths, base=2.0)
    # depth1 own=1/2, covered by its depth-2 child = 1/4 -> tight 1/4
    # depth2 own=1/4+1/4=1/2, nothing longer -> 1/2
    assert abs(w[0] - 0.25) < 1e-12 and abs(w[1] - 0.5) < 1e-12
    # end-to-end: build accepts weighting='by_share' and stays exact
    eng = PathLPM.build(routes, weighting="by_share", num_partitions=2)
    q = spark.createDataFrame([("0/0/1",), ("1/1/0",), ("1/0/0",)], "path string")
    got = {r.path: r.lpm_depth for r in eng.lookup(q, mode="guided").collect()}
    assert got == {"0/0/1": 2, "1/1/0": 2, "1/0/0": 0}


def test_ivf_index_recall_on_clustered_data(spark, tmp_path):
    """IVF: on clustered embeddings (the real-corpus shape), probing the
    top cluster(s) recovers the exact top-k."""
    from ip_filter_spark.operators.similarity import IVFIndex, cosine_topk

    rng = np.random.default_rng(4)
    centers = rng.standard_normal((5, 16)).astype(np.float32) * 4
    M = np.vstack([c + rng.standard_normal((80, 16)).astype(np.float32) for c in centers])
    rows = [(int(i), [float(x) for x in M[i]]) for i in range(len(M))]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    idx = IVFIndex.build(emb, str(tmp_path / "ivf"), nlist=5, iters=4)
    q = [float(x) for x in M[10]]
    exact = [r.vec_id for r in cosine_topk(emb, q, k=10).collect()]
    approx = [r.vec_id for r in idx.topk(q, k=10, nprobe=2).collect()]
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.9, (recall, exact, approx)
    # partition pruning engaged
    plan = spark._jvm.PythonSQLUtils.explainString(
        idx.scan(idx.probe_cids(q, 2))._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters" in plan and "cid" in plan, plan
    # determinism: rebuilding yields identical centroids
    idx2 = IVFIndex.build(emb, str(tmp_path / "ivf2"), nlist=5, iters=4)
    assert (idx.centroids == idx2.centroids).all()


def test_query_directed_multiprobe_recall_on_planted_neighbors(spark):
    """Margin-ordered multiprobe (Lv et al. VLDB'07): planted near-
    neighbors (tiny angular noise around the query) are recovered with a
    probe budget far below the radius-2 bucket count, because the first
    flipped bits are exactly the low-|margin| hyperplanes a near-neighbor
    is likeliest to disagree on."""
    from ip_filter_spark.operators.similarity import _probe_buckets, cosine_topk

    rng = np.random.default_rng(11)
    dim, bits, n_bg, n_planted = 32, 10, 400, 9
    q = rng.standard_normal(dim).astype(np.float32)
    q /= np.linalg.norm(q)
    planted = q[None, :] + 0.04 * rng.standard_normal((n_planted, dim)).astype(np.float32)
    bg = rng.standard_normal((n_bg, dim)).astype(np.float32)
    M = np.vstack([q[None, :], planted, bg])
    rows = [(int(i), [float(x) for x in M[i]]) for i in range(len(M))]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qv = [float(x) for x in q]
    exact = {r.vec_id for r in cosine_topk(emb, qv, k=10).collect()}
    assert exact == set(range(10))  # self + planted are the true top-10

    budget = 16  # 16 of 1024 buckets = 1.6% of the space
    got = {
        r.vec_id
        for r in rhp_bucketed_topk(emb, qv, k=10, bits=bits, seed=42, multiprobe=3, budget=budget).collect()
    }
    recall = len(got & exact) / 10
    assert recall == 1.0, (recall, sorted(got))
    # and the probe list really is budget-bounded + margin-ordered
    probes = _probe_buckets(qv, bits, 42, 3, budget=budget)
    assert len(probes) == budget
    full = _probe_buckets(qv, bits, 42, 3)
    assert probes == full[:budget]


def test_jl_project_matches_numpy_and_preserves_norms(spark):
    """jl_project must equal the driver-side numpy matmul exactly (same
    deterministic sign matrix, same float64 ops) regardless of partition
    layout, and the unbiasedness law E||Rx||^2 = ||x||^2 must show up
    empirically across rows."""
    from ip_filter_spark.operators.similarity import jl_project, jl_sign_matrix

    rng = np.random.default_rng(5)
    n, D, d = 300, 64, 32
    X = rng.standard_normal((n, D)).astype(np.float32)
    rows = [(int(i), [float(x) for x in X[i]]) for i in range(n)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>").repartition(7)

    got = {r.vec_id: np.array(r.jl) for r in jl_project(emb, out_dim=d, seed=7).collect()}
    R = jl_sign_matrix(D, d, seed=7)
    P = X.astype(np.float64) @ R
    assert len(got) == n
    # same sign matrix, same float64 math; only BLAS fold order (batch
    # blocking) may differ, so equality up to a few ulps, not approx
    for i in range(n):
        assert np.allclose(got[i], P[i], rtol=1e-12, atol=0.0), i

    # sign matrix is deterministic and balanced-ish
    assert np.array_equal(R, jl_sign_matrix(D, d, seed=7))
    assert abs((R > 0).mean() - 0.5) < 0.1
    # unbiasedness: mean norm ratio near 1 across 300 rows (sd ~ sqrt(2/d)/sqrt(n))
    ratios = (P**2).sum(1) / (X.astype(np.float64) ** 2).sum(1)
    assert abs(ratios.mean() - 1) < 0.05


def test_pca_from_gram_matches_direct_eigh(spark):
    """pca_from_gram over the distributed exact Gram must reproduce the
    spectrum of the directly-computed quantized Gram, and the BIGINT
    trace anchor must equal the numpy integer trace exactly."""
    from ip_filter_spark.operators.similarity import exact_gram, pca_from_gram

    rng = np.random.default_rng(3)
    n, D = 200, 16
    X = rng.standard_normal((n, D)).astype(np.float32)
    rows = [(int(i), [float(x) for x in X[i]]) for i in range(n)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>").repartition(5)

    vals, vecs, scaled_trace = pca_from_gram(exact_gram(emb, "embedding", scale_bits=14), D, scale_bits=14)

    Xs = np.floor(X.astype(np.float64) * 2**14).astype(np.int64)
    G = (Xs.T @ Xs).astype(np.float64) / 2**28
    ref = np.linalg.eigvalsh(G)[::-1]
    assert scaled_trace == int(np.trace(Xs.T @ Xs))
    assert np.allclose(vals, ref, rtol=1e-9, atol=1e-9)
    assert vals[0] >= vals[-1] >= -1e-9 * vals.sum()
    # components reconstruct the Gram: V diag(vals) V^T == G
    assert np.allclose(vecs @ np.diag(vals) @ vecs.T, G, atol=1e-8)


def _unit_rows(M):
    return M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)


def _one_batch_corpus(spark, n=120, dim=8, seed=21):
    """Four float32 clusters in ONE partition and ONE Arrow batch, rows in
    list order, so each trainer's single partial equals a driver-side
    numpy pass over the same matrix, operation for operation. Also
    returns the row indices ordered by Spark's xxhash64(id) — the
    trainers' seeding order."""
    rng = np.random.default_rng(seed)
    centers = rng.standard_normal((4, dim)) * 4.0
    X = (centers[rng.integers(0, 4, n)] + rng.standard_normal((n, dim))).astype(np.float32)
    rows = [(int(i) * 7 + 3, [float(x) for x in X[i]]) for i in range(n)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>").coalesce(1)
    h = {r.vec_id: r.h for r in emb.select("vec_id", F.xxhash64(F.col("vec_id").cast("string")).alias("h")).collect()}
    by_hash = sorted(range(n), key=lambda i: h[rows[i][0]])
    return emb, X, [r[0] for r in rows], by_hash


def test_trainers_equal_numpy_replicas(spark):
    """The three distributed Lloyd trainers share one partial-sum pass;
    each must still equal an in-test numpy replica of its own algorithm
    exactly: Euclidean k-means (centroids and per-iteration inertia),
    spherical IVF k-means in float32, and PQ codebooks plus codes."""
    from ip_filter_spark.operators.similarity import IVFIndex, PQCodebook, lloyd_kmeans

    emb, X32, ids, by_hash = _one_batch_corpus(spark)
    X = X32.astype(np.float64)
    n, k, iters = len(X), 5, 3

    # classic Lloyd: squared Euclidean via the ‖x‖² − 2x·c + ‖c‖² expansion
    C = X[by_hash[:k]].copy()
    costs = []
    for _ in range(iters):
        d2 = (X * X).sum(axis=1)[:, None] - 2.0 * (X @ C.T) + (C * C).sum(axis=1)[None, :]
        cid = np.argmin(d2, axis=1)
        costs.append(float(np.maximum(d2[np.arange(n), cid], 0.0).sum()))
        sums = np.zeros_like(C)
        np.add.at(sums, cid, X)
        cnts = np.bincount(cid, minlength=k)
        C = C.copy()
        C[cnts > 0] = sums[cnts > 0] / cnts[cnts > 0, None]
    got_C, got_costs, got_n = lloyd_kmeans(emb, "vec_id", "embedding", k=k, iters=iters)
    assert got_n == n
    assert np.array_equal(got_C, C)
    assert got_costs == costs

    # IVF: float32 cosine assignment, float64 means, renormalised to float32
    C = _unit_rows(X32[by_hash[:k]])
    for _ in range(iters):
        cid = np.argmax(_unit_rows(X32) @ C.T, axis=1).astype(np.int32)
        sums = np.zeros(C.shape, dtype=np.float64)
        np.add.at(sums, cid, X32)
        cnts = np.bincount(cid, minlength=k)
        C = C.astype(np.float64)
        C[cnts > 0] = sums[cnts > 0] / cnts[cnts > 0, None]
        C = _unit_rows(C).astype(np.float32)
    got = IVFIndex.train_kmeans(emb, k, "vec_id", "embedding", iters)
    assert got.dtype == np.float32 and np.array_equal(got, C)

    # PQ: m subspaces, argmin ‖c‖² − 2x·c per subspace, all in one pass
    m, kq = 4, 6
    dsub = X.shape[1] // m
    C = X[by_hash[:kq]].reshape(kq, m, dsub).transpose(1, 0, 2).copy()
    Xs = X.reshape(n, m, dsub)

    def codes_of(C):
        out = np.empty((n, m), dtype=np.int32)
        for s in range(m):
            out[:, s] = np.argmin((C[s] ** 2).sum(1)[None, :] - 2.0 * (Xs[:, s, :] @ C[s].T), axis=1)
        return out

    for _ in range(iters):
        codes = codes_of(C)
        for s in range(m):
            sums = np.zeros((kq, dsub))
            np.add.at(sums, codes[:, s], Xs[:, s, :])
            cnts = np.bincount(codes[:, s], minlength=kq)
            C[s][cnts > 0] = sums[cnts > 0] / cnts[cnts > 0, None]
    pq = PQCodebook.train(emb, m=m, k=kq, iters=iters)
    assert np.array_equal(pq.C, C)
    got_codes = {r.id: list(r.codes) for r in pq.encode(emb, "vec_id", "embedding").collect()}
    want = codes_of(C)
    assert got_codes == {ids[i]: want[i].tolist() for i in range(n)}


def test_vec_matrix_views_and_rejects():
    """The one list→matrix view: honours a slice's offset, and a null or
    ragged vector is a ValueError that names the column."""
    import pyarrow as pa
    import pytest

    from ip_filter_spark.arrow import list_array, vec_matrix

    M = np.arange(12, dtype=np.float32).reshape(4, 3)
    arr = list_array(M)
    assert np.array_equal(vec_matrix(arr, "v"), M)
    assert np.array_equal(vec_matrix(arr.slice(1, 2), "v"), M[1:3])
    assert vec_matrix(arr.slice(4, 0), "v").shape[0] == 0
    for bad, what in (([[1.0, 2.0], [3.0]], "ragged"), ([[1.0, 2.0], None], "null vector"), ([[1.0, None]], "null element")):
        with pytest.raises(ValueError, match=f"vector column 'emb' .*{what}"):
            vec_matrix(pa.array(bad, type=pa.list_(pa.float32())), "emb")


def test_bad_embedding_fails_naming_the_column(spark):
    """A ragged or null embedding reaching a similarity kernel fails with
    the helper's ValueError naming the column, not a bare numpy error."""
    import pytest
    from pyspark.errors import PythonException

    from ip_filter_spark.operators.similarity import jl_project, lloyd_kmeans

    ragged = spark.createDataFrame([(1, [1.0, 2.0]), (2, [3.0])], "vec_id long, embedding array<float>")
    null = spark.createDataFrame([(1, [1.0, 2.0]), (2, None)], "vec_id long, embedding array<float>")
    with pytest.raises(PythonException, match=r"ValueError: vector column 'embedding' is ragged"):
        jl_project(ragged.coalesce(1), out_dim=4).collect()
    with pytest.raises(PythonException, match=r"ValueError: vector column 'embedding' holds 1 null vector"):
        lloyd_kmeans(null.coalesce(1), "vec_id", "embedding", k=1, iters=1)


def test_rhp_signatures_empty_frame_gives_no_rows(spark):
    from ip_filter_spark.operators.similarity import rhp_signatures

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert rhp_signatures(empty).count() == 0
