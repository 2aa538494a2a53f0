"""Embedding / similarity gates: exact and ANN top-k (RHP, IVF, PQ), quantization, Gram/PCA/JL, k-means, centroids.

Split out of the former monolithic queries.py; see package __init__ for
the assembled QUERIES/ORACLES registry (order preserved exactly).
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ip_filter_spark.functions.text import (
    LANG_MARKERS,
    MOD,
    fingerprint_expr,
    lang_id_expr,
    ngrams_expr,
    token_count_expr,
    tokens_expr,
)

from ip_filter_spark.queries._shared import (
    _t,
    _ensure_shipped,
)

# =====================================================================
# Embedding similarity
# =====================================================================
def _q0(spark, sf_dir) -> list[float]:
    return [float(x) for x in _t(spark, sf_dir, "embeddings").where("vec_id = 0").first().embedding]


def cosine_topk_exact(spark, sf_dir):
    from ip_filter_spark.operators.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings").withColumn("embedding", F.col("embedding").cast("array<double>"))
    return cosine_topk(emb, _q0(spark, sf_dir), k=10)


COSINE_TOPK_SQL = """
SELECT vec_id, ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
       (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 6) AS cosine
FROM embeddings ORDER BY cosine DESC, vec_id LIMIT 10
"""


def ann_rhp_topk(spark, sf_dir):
    """Approximate NN via random-hyperplane LSH, gated through
    provable-by-construction invariants (the bound-column pattern —
    reference analog: the triple-agreement harness,
    /root/reference/prototype/tests.py_bak:396-445).

    The query vector is vec 0's OWN embedding, so the true top-1 is
    provably (vec_id 0, cosine 1.0): the zero-flip probe always covers
    the query's own bucket, so vec 0 is always a candidate, and the exact
    re-rank must put it first. The remaining invariants (descending
    cosines, cosines <= 1, candidate pool >= k) are deterministic for the
    seeded build. Full top-10 equality stays out of the gate on purpose:
    these embeddings are isotropic (no angular structure), the known
    adversarial case for angular LSH — the true top-10's buckets spread
    across ~60-70% of signature space, so full recall would require
    probing nearly everything. Recall on corpora WITH structure is pinned
    by the planted-neighbor pytest (recall 1.0 at 1.6% of buckets);
    candidate-cosine correctness is oracle-checked via cosine_topk_exact
    sharing the same re-rank expression."""
    _ensure_shipped(spark)
    from ip_filter_spark.operators.similarity import _probe_buckets, rhp_bucketed_topk, rhp_signatures

    k, bits, multiprobe, seed = 10, 6, 2, 42
    emb = _t(spark, sf_dir, "embeddings").withColumn("embedding", F.col("embedding").cast("array<double>"))
    q0 = _q0(spark, sf_dir)
    top = rhp_bucketed_topk(emb, q0, k=k, bits=bits, seed=seed, multiprobe=multiprobe).collect()
    n_cand = (
        rhp_signatures(emb, "vec_id", "embedding", bits, seed)
        .where(F.col("bucket").isin(_probe_buckets(q0, bits, seed, multiprobe)))
        .count()
    )
    cosines = [r.cosine for r in top]
    return spark.createDataFrame(
        [
            (
                int(top[0].vec_id),
                float(top[0].cosine),
                len(top),
                bool(all(a >= b for a, b in zip(cosines, cosines[1:]))),
                bool(all(c <= 1.0 for c in cosines)),
                bool(n_cand >= k),
            )
        ],
        "top1_id long, top1_cosine double, k_returned long, cosines_sorted_desc boolean, "
        "all_cosines_le_1 boolean, n_candidates_ge_k boolean",
    )


ANN_RHP_SQL = """
SELECT CAST(0 AS BIGINT) AS top1_id, CAST(1.0 AS DOUBLE) AS top1_cosine, CAST(10 AS BIGINT) AS k_returned,
       TRUE AS cosines_sorted_desc, TRUE AS all_cosines_le_1, TRUE AS n_candidates_ge_k
"""


def fd_embedding_gram(spark, sf_dir):
    """Frequent Directions matrix sketch under the hard gate: a
    distributed FD build (per-partition partials -> tree_merge, ~16 KB
    blobs) approximates the 64x64 Gram matrix of the embeddings table;
    every coordinate's exact column energy (the e_i directions of the FD
    guarantee |x^T(A^T A - B^T B)x| <= ||A||_F^2/ell) must be within the
    sketch's self-reported bound. The exact side is order-independent in
    BOTH engines: per-element FLOOR(x^2 * 1e8) bigints summed exactly,
    so the 64 exact_sumsq values are full-value oracle columns, not just
    booleans. ingested_all pins exactly-once ingestion through the merge
    tree; trace_shrunk pins the shrinkage invariant trace(B^T B) <=
    ||A||_F^2."""
    _ensure_shipped(spark)
    from ip_filter_spark.operators.matrix import fd_sketch

    ell, dim = 16, 64
    emb = _t(spark, sf_dir, "embeddings")
    n_rows = emb.count()
    sk = fd_sketch(emb, "embedding", ell=ell, dim=dim)
    diag = sk.gram_diag()
    bound = sk.error_bound()
    exact = (
        emb.select(F.posexplode(F.col("embedding").cast("array<double>")).alias("coord", "x"))
        .groupBy("coord")
        .agg(F.sum(F.floor(F.col("x") * F.col("x") * F.lit(1e8))).alias("sumsq_e8"))
        .select(
            "coord",
            F.round(F.col("sumsq_e8") / F.lit(1e8), 6).alias("exact_sumsq"),
            "sumsq_e8",
        )
        .collect()
    )
    slack = bound * 1e-9 + 1e-6
    ingested_all = bool(sk.n_items == n_rows)
    trace_shrunk = bool(sk.trace() <= sk.frobsq * (1 + 1e-9) + 1e-6)
    rows = [
        (
            int(r.coord),
            float(r.exact_sumsq),
            bool(abs(r.sumsq_e8 / 1e8 - diag[r.coord]) <= bound + slack),
            ingested_all,
            trace_shrunk,
        )
        for r in sorted(exact, key=lambda r: r.coord)
    ]
    return spark.createDataFrame(
        rows,
        "coord bigint, exact_sumsq double, within_bound boolean, ingested_all boolean, trace_shrunk boolean",
    )


FD_GRAM_SQL = """
SELECT i AS coord,
       ROUND(SUM(CAST(FLOOR(CAST(embedding[i + 1] AS DOUBLE) * CAST(embedding[i + 1] AS DOUBLE) * 1e8)
                      AS BIGINT)) / 1e8, 6) AS exact_sumsq,
       TRUE AS within_bound, TRUE AS ingested_all, TRUE AS trace_shrunk
FROM embeddings, range(64) t(i)
GROUP BY i
"""


def embedding_near_dup_exact(spark, sf_dir):
    """All-pairs cosine >= 0.9 — exact O(n^2) formulation (oracle tier;
    the LSH-bucketed variant is the scale path). Guarded: refuses to
    cartesian-explode past the oracle-tier design size."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    n = emb.count()
    assert n <= 20_000, (
        f"embedding_near_dup_exact is the O(n^2) oracle tier ({n} rows -> {n * (n - 1) // 2} pairs); "
        "use embedding_near_dup_lsh at scale"
    )
    from ip_filter_spark.operators.similarity import cosine_expr

    a, b = emb.alias("a"), emb.alias("b")
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            F.round(cosine_expr(F.col("a.v"), F.col("b.v")), 6).alias("cosine"),
        )
        .where(F.col("cosine") >= 0.9)
    )


NEAR_DUP_SQL = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) >= 0.9
"""


def embedding_near_dup_lsh(spark, sf_dir):
    """LSH-bucketed near-dup pairs. Oracle note: the operator re-ranks
    candidates by EXACT cosine, so its output is provably a subset of
    embedding_near_dup_exact's; at threshold 0.9 this corpus has no such
    pairs at any sf (max pairwise cosine ~0.51), so subset == equality
    and NEAR_DUP_SQL is a sound oracle. Recall on corpora that DO have
    near-dups is pinned by the planted-duplicate pytest."""
    _ensure_shipped(spark)
    from ip_filter_spark.operators.similarity import embedding_near_dup_pairs

    emb = _t(spark, sf_dir, "embeddings").withColumn("embedding", F.col("embedding").cast("array<double>"))
    return embedding_near_dup_pairs(emb, threshold=0.9, bits=6)


def ann_ivf_topk(spark, sf_dir):
    """IVF (inverted-file) ANN under the same bound-column gate as
    ann_rhp_topk: k-means coarse quantizer, cid-partitioned parquet
    index, nprobe partition-pruned scan, exact-cosine re-rank.

    The query vector is vec 0's OWN embedding. The analog of RHP's
    "zero-flip probe always covers the query's own bucket" is reading
    vec 0's assigned cid from the index and guaranteeing it is probed
    (for a self-query the index lookup of the query id IS its partition;
    on isotropic test embeddings the centroid scores can be too close to
    re-derive the argmax bit-identically through a different BLAS
    reduction order, so we read the stored assignment instead of
    recomputing it). With vec 0 a candidate, the exact re-rank provably
    puts (vec_id 0, cosine 1.0) first; the remaining invariants are
    deterministic for the seeded, RNG-free build (centroid seeds are the
    hash-smallest ids; Lloyd updates from numpy partial sums).
    Reference analog: the triple-agreement harness,
    /root/reference/prototype/tests.py_bak:396-445."""
    _ensure_shipped(spark)
    import shutil
    import tempfile

    from ip_filter_spark.operators.similarity import IVFIndex

    k, nlist, nprobe = 10, 16, 4
    emb = _t(spark, sf_dir, "embeddings").withColumn("embedding", F.col("embedding").cast("array<double>"))
    q0 = _q0(spark, sf_dir)
    path = tempfile.mkdtemp(prefix="ivf_gate_")
    try:
        idx = IVFIndex.build(emb, path, nlist=nlist, iters=3)
        probes = idx.probe_cids(q0, nprobe)
        own_cid = int(spark.read.parquet(path).where("vec_id = 0").select("cid").first().cid)
        own_probed = own_cid in probes
        if not own_probed:
            probes = probes + [own_cid]
        cands = idx.scan(probes)
        n_cand = cands.count()
        from ip_filter_spark.operators.similarity import cosine_topk

        top = cosine_topk(cands, q0, k, "vec_id", "embedding").collect()
        cosines = [r.cosine for r in top]
        return spark.createDataFrame(
            [
                (
                    int(top[0].vec_id),
                    float(top[0].cosine),
                    len(top),
                    bool(all(a >= b for a, b in zip(cosines, cosines[1:]))),
                    bool(all(c <= 1.0 for c in cosines)),
                    bool(n_cand >= k),
                    bool(n_cand < emb.count()),
                )
            ],
            "top1_id long, top1_cosine double, k_returned long, cosines_sorted_desc boolean, "
            "all_cosines_le_1 boolean, n_candidates_ge_k boolean, scan_was_pruned boolean",
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)


ANN_IVF_SQL = """
SELECT CAST(0 AS BIGINT) AS top1_id, CAST(1.0 AS DOUBLE) AS top1_cosine, CAST(10 AS BIGINT) AS k_returned,
       TRUE AS cosines_sorted_desc, TRUE AS all_cosines_le_1, TRUE AS n_candidates_ge_k,
       TRUE AS scan_was_pruned
"""


def array_functions_emb(spark, sf_dir):
    """Higher-order array functions as a gated parity surface:
    ``transform`` / ``filter`` / ``aggregate`` / ``zip_with`` are the
    JVM-side building blocks this engine's similarity operators lean on
    (dot products, quantization, per-dimension folds) — all of them
    whole-stage-codegen expressions, never Python. The gate computes,
    per label: Σ self-dot of the quantized vector (``aggregate`` over
    ``transform``), positive-component count (``filter``), and Σ of
    adjacent-component products (``zip_with`` over two ``slice``s — the
    lag-product fold). Exactness: components are quantized FIRST via
    float→double cast (exact) then ``FLOOR(x·1000)`` (identical IEEE
    double multiply + floor in both engines), so every aggregate is an
    exact BIGINT; the oracle replicates zip_with with index arithmetic
    (list_transform over generate_series)."""
    emb = _t(spark, sf_dir, "embeddings")
    rows = emb.select(
        "label",
        F.expr(
            "aggregate(transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT)),"
            " CAST(0 AS BIGINT), (a, v) -> a + v * v)"
        ).alias("self_dot"),
        F.size(F.expr("filter(embedding, x -> CAST(x AS DOUBLE) > 0)")).cast("long").alias("n_pos"),
        F.expr(
            "aggregate(zip_with("
            "  slice(transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT)), 1, size(embedding) - 1),"
            "  slice(transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT)), 2, size(embedding) - 1),"
            "  (a, b) -> a * b), CAST(0 AS BIGINT), (acc, v) -> acc + v)"
        ).alias("adj_dot"),
    )
    return rows.groupBy("label").agg(
        F.count("*").alias("n_vecs"),
        F.sum("self_dot").alias("sum_self_dot"),
        F.sum("n_pos").alias("sum_n_pos"),
        F.sum("adj_dot").alias("sum_adj_dot"),
    )


ARRAY_FUNCS_SQL = """
WITH q AS (
  SELECT label,
         list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv,
         len(list_filter(embedding, x -> CAST(x AS DOUBLE) > 0)) AS n_pos
  FROM embeddings
), per_vec AS (
  SELECT label, n_pos,
         list_sum(list_transform(qv, v -> v * v)) AS self_dot,
         list_sum(list_transform(generate_series(1, len(qv) - 1), i -> qv[i] * qv[i + 1])) AS adj_dot
  FROM q
)
SELECT label,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(SUM(self_dot) AS BIGINT) AS sum_self_dot,
       CAST(SUM(n_pos) AS BIGINT) AS sum_n_pos,
       CAST(SUM(adj_dot) AS BIGINT) AS sum_adj_dot
FROM per_vec
GROUP BY label
"""


def quantized_dot_topk_emb(spark, sf_dir):
    """Int8 embedding quantization + integer-exact top-k: per-vector
    absmax scaling codes every embedding onto the [-127,127] grid
    (array<tinyint> — 4× smaller than float32, which is the difference
    between shipping 100 TB and 25 TB of vectors through every shuffle),
    then ranks neighbors of vec 0 by the EXACT integer dot product of
    the codes. Every compared value is an integer (the only floats — the
    scales — are deterministic double expressions on both engines), so
    the FULL ranking is hash-gated, not bound columns like the ANN
    gates. One scan + broadcast query row; the rank filter plans as
    WindowGroupLimit (map-side partial top-k)."""
    from ip_filter_spark.operators.similarity import quantized_dot_topk

    emb = _t(spark, sf_dir, "embeddings")
    return quantized_dot_topk(emb, query_id=0, k=10)


QUANTIZED_DOT_TOPK_SQL = """
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
s AS (
  SELECT vec_id, e,
         CASE WHEN m = 0 THEN 1.0 ELSE m / 127.0 END AS sc
  FROM (SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) AS m FROM v)),
q AS (
  SELECT vec_id, list_transform(e, x -> CAST(round(x / sc) AS BIGINT)) AS qv FROM s),
ex AS (
  SELECT vec_id, UNNEST(qv) AS x, UNNEST(range(1, len(qv)+1)) AS i FROM q),
qx AS (SELECT i, x AS qxv FROM ex WHERE vec_id = 0),
dots AS (
  SELECT e.vec_id, CAST(SUM(e.x * qx.qxv) AS BIGINT) AS qdot
  FROM ex e JOIN qx USING (i)
  WHERE e.vec_id <> 0 GROUP BY e.vec_id)
SELECT * FROM (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY qdot DESC, vec_id) AS INT) AS rank, vec_id, qdot
  FROM dots)
WHERE rank <= 10
"""


def batch_cosine_topk_exact(spark, sf_dir):
    """Multi-query exact ANN baseline — the SERVING shape (a batch of
    query vectors, top-k each), not one-query-at-a-time: 10 queries
    (vec_id < 10) broadcast against the corpus scan, cosine per pair,
    top-3 per query via the grouped rank (WindowGroupLimit — map-side
    partial top-k per query). Float discipline: both engines rank on
    the ROUNDED (4 dp) cosine with an id tie-break, so last-ulp
    differences between fold orders can neither flip ranks nor the
    hash. At 100 TB the LSH/IVF/PQ tiers prune this cross product;
    this gate is their exact oracle in batch form."""
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "v", F.col("embedding").cast("array<double>")
    )
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    corpus = emb.where(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("neighbor_id"), F.col("v").alias("cv")
    )
    dot = F.aggregate(
        F.zip_with("qv", "cv", lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
    )
    norm = lambda c: F.sqrt(
        F.aggregate(F.transform(c, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)
    )
    scored = corpus.crossJoin(F.broadcast(queries)).select(
        "qid",
        "neighbor_id",
        F.round(dot / (norm(F.col("qv")) * norm(F.col("cv"))), 4).alias("cosine"),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("qid", F.col("rank").cast("int").alias("rank"), "neighbor_id", "cosine")
    )


BATCH_COSINE_SQL = """
WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings WHERE vec_id >= 10),
s AS (SELECT qid, neighbor_id,
             ROUND(list_cosine_similarity(qv, cv), 4) AS cosine
      FROM q, c),
r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                   ORDER BY cosine DESC, neighbor_id ASC) AS rn
      FROM s)
SELECT qid, CAST(rn AS INT) AS rank, neighbor_id, cosine FROM r WHERE rn <= 3
"""


def ann_pq_topk(spark, sf_dir):
    """Product-quantization ANN (Jégou et al. 2011) under the ANN
    bound-column gate: 8x16 codebooks trained by the distributed
    RNG-free Lloyd (operators/similarity.PQCodebook), vectors encoded to
    8 ints (32x smaller than float32x64), candidates ranked by ADC —
    pure element_at-over-literal-array JVM expressions, no Python on the
    scan — then exact-cosine re-ranked. Vec 0 (the query itself) is
    force-included in the candidate set like the IVF gate, so the exact
    re-rank provably yields (0, 1.0) first; code-width/alphabet
    invariants are checked in-query over EVERY row."""
    _ensure_shipped(spark)
    from ip_filter_spark.operators.similarity import PQCodebook, cosine_topk

    M, K, TOPK, CAND = 8, 16, 10, 50
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    q0 = _q0(spark, sf_dir)
    pq = PQCodebook.train(emb, m=M, k=K, iters=3)
    codes = pq.encode(emb, "vec_id", "embedding")
    shape = codes.agg(
        F.count("*").alias("n"),
        F.min(F.size("codes")).alias("wmin"),
        F.max(F.size("codes")).alias("wmax"),
        F.max(F.array_max("codes")).alias("cmax"),
        F.min(F.array_min("codes")).alias("cmin"),
    ).first()
    cands = (
        codes.withColumn("adc", pq.adc_score_expr(q0))
        .orderBy(F.desc("adc"), F.asc("id"))
        .limit(CAND)
        .select("id")
        .union(spark.createDataFrame([(0,)], "id bigint"))
        .distinct()
    )
    n_cand = cands.count()
    cand_vecs = emb.join(
        F.broadcast(cands.withColumnRenamed("id", "vec_id")), "vec_id", "leftsemi"
    )
    top = cosine_topk(cand_vecs, q0, TOPK, "vec_id", "embedding").collect()
    cosines = [r.cosine for r in top]
    return spark.createDataFrame(
        [
            (
                int(top[0].vec_id),
                float(top[0].cosine),
                len(top),
                bool(cosines == sorted(cosines, reverse=True)),
                bool(all(c <= 1.0 + 1e-9 for c in cosines)),
                bool(n_cand >= TOPK),
                bool(
                    shape["wmin"] == M
                    and shape["wmax"] == M
                    and 0 <= shape["cmin"]
                    and shape["cmax"] < K
                ),
            )
        ],
        "top1_id long, top1_cosine double, k_returned int, cosines_sorted_desc boolean, "
        "all_cosines_le_1 boolean, n_candidates_ge_k boolean, codes_shape_valid boolean",
    )


def ann_ivfpq_topk(spark, sf_dir):
    """IVF-PQ (the FAISS-style billion-vector composition): coarse
    k-means routing + PQ codes inside partition-pruned cells, built in
    ONE fused Arrow pass; ADC over the probed cells only; exact-cosine
    re-rank touches full-precision vectors for ~candidate rows via a
    broadcast semi-join. Vec 0's own cell is force-probed (read from
    the index, same rationale as the IVF gate), so the re-rank provably
    returns (0, 1.0) first; pruning is proven in-query by the scanned
    row count being under the corpus count."""
    _ensure_shipped(spark)
    import shutil
    import tempfile

    from ip_filter_spark.operators.similarity import IVFPQIndex, cosine_topk

    TOPK = 10
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    n_total = emb.count()
    q0 = _q0(spark, sf_dir)
    path = tempfile.mkdtemp(prefix="ivfpq_gate_")
    try:
        idx = IVFPQIndex.build(emb, path, nlist=16, m=8, k=16, iters=3)
        import numpy as np

        qn = np.asarray(q0) / max(float(np.linalg.norm(q0)), 1e-12)
        probes = [int(c) for c in np.argsort(-(idx.centroids @ qn))[:4]]
        own_cid = int(
            spark.read.parquet(path).where("id = 0").select("cid").first().cid
        )
        if own_cid not in probes:
            probes.append(own_cid)
        scanned = spark.read.parquet(path).where(F.col("cid").isin(probes))
        n_scanned = scanned.count()
        cands = (
            scanned.withColumn("adc", idx.pq.adc_score_expr(q0))
            .orderBy(F.desc("adc"), F.asc("id"))
            .limit(50)
            .select("id")
        )
        cand_vecs = emb.join(
            F.broadcast(cands.withColumnRenamed("id", "vec_id")), "vec_id", "leftsemi"
        )
        top = cosine_topk(cand_vecs, q0, TOPK, "vec_id", "embedding").collect()
    finally:
        shutil.rmtree(path, ignore_errors=True)
    cosines = [r.cosine for r in top]
    return spark.createDataFrame(
        [
            (
                int(top[0].vec_id),
                float(top[0].cosine),
                len(top),
                bool(cosines == sorted(cosines, reverse=True)),
                bool(all(c <= 1.0 + 1e-9 for c in cosines)),
                bool(0 < n_scanned < n_total),
            )
        ],
        "top1_id long, top1_cosine double, k_returned int, cosines_sorted_desc boolean, "
        "all_cosines_le_1 boolean, scan_was_pruned boolean",
    )


ANN_IVFPQ_SQL = """
SELECT CAST(0 AS BIGINT) AS top1_id, CAST(1.0 AS DOUBLE) AS top1_cosine,
       CAST(10 AS INTEGER) AS k_returned, TRUE AS cosines_sorted_desc,
       TRUE AS all_cosines_le_1, TRUE AS scan_was_pruned
"""


ANN_PQ_SQL = """
SELECT CAST(0 AS BIGINT) AS top1_id, CAST(1.0 AS DOUBLE) AS top1_cosine,
       CAST(10 AS INTEGER) AS k_returned, TRUE AS cosines_sorted_desc,
       TRUE AS all_cosines_le_1, TRUE AS n_candidates_ge_k,
       TRUE AS codes_shape_valid
"""


def embedding_centroids_by_label(spark, sf_dir):
    """Per-class embedding centroid accumulation — the training
    primitive under every IVF/k-means build (`similarity.IVFIndex`
    computes exactly these sums each Lloyd pass): posexplode the vector
    column and fold per (label, dimension). Gated EXACTLY by scaling
    each float by 2^20 first — a power-of-two multiply is lossless in
    binary floating point, floor is unambiguous across engines, and the
    BIGINT sums are then order-independent (no float fold-order ulps
    anywhere). One explode scan, one shuffle on (label, pos); at 100 TB
    this is the column-parallel shape — 64·|labels| cells regardless of
    corpus size."""
    e = _t(spark, sf_dir, "embeddings")
    x = e.select("label", F.posexplode("embedding").alias("pos", "val"))
    scaled = F.floor(F.col("val").cast("double") * 1048576).cast("long")
    return x.groupBy("label", "pos").agg(
        F.count("*").alias("n"),
        F.sum(scaled).alias("scaled_sum"),
    )


EMBEDDING_CENTROIDS_SQL = """
WITH x AS (SELECT label, unnest(embedding) AS e,
                  generate_subscripts(embedding, 1) - 1 AS pos FROM embeddings)
SELECT label, pos, COUNT(*) AS n,
       CAST(SUM(CAST(floor(CAST(e AS DOUBLE) * 1048576) AS BIGINT)) AS BIGINT)
         AS scaled_sum
FROM x GROUP BY 1, 2
"""


def gram_matrix_exact_emb(spark, sf_dir):
    """Exact Gram matrix X^T X over the embedding corpus — the
    second-moment / covariance primitive under whitening and PCA, and
    the exact companion to ``fd_embedding_gram``'s sketch. Values are
    quantized by a lossless power-of-two scale (floor(v * 2^14)), so
    every cell is an order-independent BIGINT sum: both engines compute
    bit-identical integers, no float fold-order anywhere. Spark shape is
    the map-side matrix accumulation (per-batch numpy Xs.T @ Xs inside
    mapInArrow, D^2 ints per partition, one tiny groupBy over <= D^2
    keys) — shuffle volume O(partitions * D^2), never O(rows); the
    oracle replays the same quantized products via a positional
    self-join."""
    from ip_filter_spark.operators.similarity import exact_gram

    e = _t(spark, sf_dir, "embeddings")
    return exact_gram(e, "embedding", scale_bits=14)


GRAM_MATRIX_SQL = """
WITH x AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
                  CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 16384) AS BIGINT)
                    AS s
           FROM embeddings)
SELECT CAST(a.pos AS INTEGER) AS pos_i, CAST(b.pos AS INTEGER) AS pos_j,
       CAST(SUM(a.s * b.s) AS BIGINT) AS scaled_sum
FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.pos <= b.pos
GROUP BY 1, 2
"""


def jl_distance_preservation_emb(spark, sf_dir):
    """Johnson–Lindenstrauss dimensionality reduction (64 → 32 dims) with
    its distance-preservation contract gated — the dim-reduction step a
    training pipeline runs before ANN indexing / clustering to halve
    index size and per-distance cost. The projection is
    ``jl_project``: a deterministic Rademacher sign matrix (Achlioptas
    2003) derived from the splitmix finalizer, applied as one vectorized
    numpy matmul per Arrow batch — map-only, no shuffle, no broadcast.

    Gate anchors: n_vectors / n_pairs and the BIGINT-exact quantized
    original distance mass Σ‖qa−qb‖² (floor(v·2^14) ints, same lossless
    power-of-two trick as ``gram_matrix_exact_emb``) are full-value
    columns both engines compute independently; the JL guarantee rides
    on bound booleans: the mean squared-distance ratio sits within
    ±0.05 of 1 (unbiasedness: E‖Rx‖² = ‖x‖²) and ≥90% of pairs distort
    by ≤50% (measured 0.958–0.962 at both SFs; per-pair sd ≈ √(2/d) =
    0.25). Pair verification is O(sample²) BY DESIGN — it samples
    ``vec_id < 1024`` (the whole table at gate scale); the projection
    itself is the scale path, O(rows·D·d) map-only."""
    from ip_filter_spark.operators.similarity import jl_project

    e = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 1024)
    q = F.transform(
        F.col("embedding").cast("array<double>"),
        lambda x: F.floor(x * F.lit(16384.0)).cast("long"),
    )
    base = e.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
        q.alias("qv"),
    )
    proj = jl_project(e, out_dim=32, seed=7)
    side = base.join(proj, "vec_id")

    def _d2(ac, bc):
        return F.aggregate(
            F.zip_with(ac, bc, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    def _d2i(ac, bc):
        return F.aggregate(
            F.zip_with(ac, bc, lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    a = side.select(
        F.col("vec_id").alias("ia"),
        F.col("v").alias("va"),
        F.col("qv").alias("qa"),
        F.col("jl").alias("pa"),
    )
    b = side.select(
        F.col("vec_id").alias("ib"),
        F.col("v").alias("vb"),
        F.col("qv").alias("qb"),
        F.col("jl").alias("pb"),
    )
    pairs = (
        a.join(b, F.col("ia") < F.col("ib"))
        .select(
            _d2i(F.col("qa"), F.col("qb")).alias("scaled_d2"),
            _d2(F.col("va"), F.col("vb")).alias("orig_d2"),
            _d2(F.col("pa"), F.col("pb")).alias("proj_d2"),
        )
        .where(F.col("scaled_d2") > 0)
    )
    nv = e.agg(F.count("*").cast("long").alias("n_vectors"))
    return (
        pairs.agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.sum("scaled_d2").alias("scaled_orig_dist_sum"),
            F.avg(F.col("proj_d2") / F.col("orig_d2")).alias("_mean_ratio"),
            F.avg(
                (
                    F.abs(F.col("proj_d2") / F.col("orig_d2") - 1.0) <= 0.5
                ).cast("double")
            ).alias("_frac_half"),
        )
        .crossJoin(F.broadcast(nv))
        .select(
            "n_vectors",
            "n_pairs",
            "scaled_orig_dist_sum",
            (F.abs(F.col("_mean_ratio") - 1.0) <= 0.05).alias("mean_ratio_ok"),
            (F.col("_frac_half") >= 0.9).alias("frac_within_half_ok"),
        )
    )


JL_PRESERVATION_SQL = """
WITH s AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 1024),
q AS (SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
             CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 16384) AS BIGINT)
               AS sv
      FROM s),
d AS (SELECT a.vec_id AS ia, b.vec_id AS ib,
             SUM((a.sv - b.sv) * (a.sv - b.sv)) AS d2
      FROM q a JOIN q b ON a.pos = b.pos AND a.vec_id < b.vec_id
      GROUP BY 1, 2)
SELECT CAST((SELECT COUNT(*) FROM s) AS BIGINT) AS n_vectors,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(d2) AS BIGINT) AS scaled_orig_dist_sum,
       TRUE AS mean_ratio_ok, TRUE AS frac_within_half_ok
FROM d WHERE d2 > 0
"""


def pca_explained_variance_emb(spark, sf_dir):
    """PCA over the embedding corpus via the distributed exact Gram —
    the whitening / dimensionality-analysis primitive: eigendecompose
    G = X^T X and report how much variance the top components carry.
    The heavy pass is ``exact_gram`` (map-side X^T X, O(partitions·D²)
    shuffle, never O(rows)); the finisher collects <= D(D+1)/2 BIGINT
    cells and runs numpy ``eigh`` on the driver — O(D³) on < 1 MB, the
    same driver-bounded pattern as ``fd_embedding_gram``'s spectral
    check.

    Cross-engine anchor: ``scaled_trace`` — the exact integer
    Σ floor(v·2^14)² both engines sum independently (trace(G) is
    order-independent BIGINT arithmetic). The spectral facts ride on
    bound booleans evaluated on the driver's eigenvalues: PSD-ness
    (min eig >= -1e-9·trace), Σeig = trace to 1e-9 relative, top-1
    share >= 1/D (pigeonhole — always true of a trace-normalized PSD
    spectrum), and explained-variance shares non-increasing."""
    from ip_filter_spark.operators.similarity import exact_gram, pca_from_gram

    e = _t(spark, sf_dir, "embeddings")
    dim = len(e.select("embedding").first()[0])
    vals, _vecs, scaled_trace = pca_from_gram(
        exact_gram(e, "embedding", scale_bits=14), dim, scale_bits=14
    )
    trace = float(vals.sum())
    shares = vals / trace if trace > 0 else vals
    descaled = scaled_trace / float(2**28)
    return spark.createDataFrame(
        [
            (
                int(scaled_trace),
                int(dim),
                bool(vals.min() >= -1e-9 * trace),
                bool(abs(trace - descaled) <= 1e-9 * descaled),
                bool(shares[0] >= 1.0 / dim),
                bool(np.all(np.diff(shares) <= 1e-12)),
                bool(0.0 < float(shares[:8].sum()) <= 1.0 + 1e-12),
            )
        ],
        "scaled_trace long, n_components int, psd_ok boolean, "
        "trace_matches boolean, top1_ge_uniform boolean, "
        "shares_non_increasing boolean, top8_share_in_unit boolean",
    )


PCA_EVR_SQL = """
WITH q AS (SELECT CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 16384)
                    AS BIGINT) AS s
           FROM embeddings)
SELECT CAST(SUM(s * s) AS BIGINT) AS scaled_trace,
       (SELECT CAST(MAX(len(embedding)) AS INT) FROM embeddings)
         AS n_components,
       TRUE AS psd_ok, TRUE AS trace_matches, TRUE AS top1_ge_uniform,
       TRUE AS shares_non_increasing, TRUE AS top8_share_in_unit
FROM q
"""


def kmeans_inertia_emb(spark, sf_dir):
    """Distributed classic Lloyd k-means under the hard gate via its
    DESCENT THEOREM: inertia is non-increasing per iteration (the
    assign step can't raise cost given centroids, the update step
    can't given assignments) — a provable-by-construction invariant in
    the bound-column style, checked at 1e-9 relative tolerance for
    float fold-order noise, plus a strict overall decrease (measured
    ≥ 20% at sf0.001–0.1).  The heavy pass is one mapInArrow per
    iteration emitting one O(k·D) partial per partition (Σvec and count
    per centroid, plus the partition's cost) — never O(rows) to the
    driver; seeding is identity-hash
    deterministic.  Exact anchors: n_vectors, k, iters."""
    _ensure_shipped(spark)
    from ip_filter_spark.operators.similarity import lloyd_kmeans

    emb = _t(spark, sf_dir, "embeddings")
    k, iters = 16, 4
    _C, costs, n = lloyd_kmeans(emb, "vec_id", "embedding", k=k, iters=iters)
    monotone = all(costs[t + 1] <= costs[t] * (1 + 1e-9) for t in range(len(costs) - 1))
    decreased = costs[-1] < costs[0] * (1 - 1e-6)
    return spark.createDataFrame(
        [(int(n), k, iters, bool(monotone), bool(decreased))],
        "n_vectors long, k long, iters long, inertia_monotone boolean, inertia_decreased boolean",
    )


KMEANS_INERTIA_SQL = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors, CAST(16 AS BIGINT) AS k,
       CAST(4 AS BIGINT) AS iters, TRUE AS inertia_monotone, TRUE AS inertia_decreased
FROM embeddings
"""


__all__ = [
    "_q0",
    "cosine_topk_exact",
    "COSINE_TOPK_SQL",
    "ann_rhp_topk",
    "ANN_RHP_SQL",
    "fd_embedding_gram",
    "FD_GRAM_SQL",
    "embedding_near_dup_exact",
    "NEAR_DUP_SQL",
    "embedding_near_dup_lsh",
    "ann_ivf_topk",
    "ANN_IVF_SQL",
    "array_functions_emb",
    "ARRAY_FUNCS_SQL",
    "quantized_dot_topk_emb",
    "QUANTIZED_DOT_TOPK_SQL",
    "batch_cosine_topk_exact",
    "BATCH_COSINE_SQL",
    "ann_pq_topk",
    "ann_ivfpq_topk",
    "ANN_IVFPQ_SQL",
    "ANN_PQ_SQL",
    "embedding_centroids_by_label",
    "EMBEDDING_CENTROIDS_SQL",
    "gram_matrix_exact_emb",
    "GRAM_MATRIX_SQL",
    "jl_distance_preservation_emb",
    "JL_PRESERVATION_SQL",
    "pca_explained_variance_emb",
    "PCA_EVR_SQL",
    "kmeans_inertia_emb",
    "KMEANS_INERTIA_SQL",
]
