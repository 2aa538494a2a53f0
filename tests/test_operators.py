"""Training-data-pipeline operator tests: dedup tiers, similarity search,
text analysis, top-k, quantiles, multimodal plumbing — each against an
exact oracle computed with Spark built-ins or numpy."""

import hashlib
import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from ip_filter_spark.functions.text import fingerprint_expr, lang_id_expr, quality_exprs, token_count_expr
from ip_filter_spark.operators import (
    attach_fake_media,
    cms_topk,
    cosine_topk,
    dedup_exact,
    embedding_near_dup_pairs,
    exact_dup_groups,
    exact_quantiles,
    exact_topk,
    extract_features,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    oph_minhash_pairs,
    oph_signatures,
    rhp_bucketed_topk,
    sketch_quantiles,
    simhash_pairs,
)


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()


# ------------------------------------------------------------------ dedup
def test_exact_dedup(spark):
    rows = [(1, "hello world"), (2, "hello world"), (3, "unique"), (4, "hello world")]
    df = spark.createDataFrame(rows, "id long, text string")
    groups = exact_dup_groups(df, "text", "id").collect()
    assert len(groups) == 1 and groups[0].dup_count == 3 and groups[0].min_id == 1
    kept = dedup_exact(df, "text", "id").select("id").orderBy("id").collect()
    assert [r.id for r in kept] == [1, 3]


def _near_dup_corpus(spark):
    base = "the quick brown fox jumps over the lazy dog again and again every day"
    rows = [
        (1, base),
        (2, base.replace("lazy", "sleepy")),  # near-dup of 1
        (3, "completely different content about spark sql engines and shuffles here"),
        (4, base),  # exact dup of 1
        (5, "another unrelated document mentioning bloom filters and sketches only"),
    ]
    return spark.createDataFrame(rows, "id long, text string")


def test_minhash_lsh_finds_near_dups(spark):
    df = _near_dup_corpus(spark)
    # bands=32 (r=2): P(band match) = J^2, so a J=0.6 pair is a candidate
    # w.p. 1-(1-est^2)^32 ~ 1.0 — r=4 banding is tuned for J >= 0.7 and
    # genuinely coin-flips at 0.6. threshold 0.35 < the pair's
    # deterministic 64-perm estimate 0.4375 (true J = 0.6; sd ~ 0.06)
    # and far above any unrelated-pair estimate (~0)
    pairs = minhash_lsh_pairs(df, "id", "text", num_perm=64, bands=32, threshold=0.35).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    assert (1, 4) in got  # exact dup: jaccard 1.0
    assert (1, 2) in got or (2, 4) in got  # near dup found
    assert all({a, b} != {3, 5} for a, b in got)  # unrelated docs not paired
    exact_dup = [r for r in pairs if (r.id_a, r.id_b) == (1, 4)][0]
    assert exact_dup.est_jaccard == 1.0


def test_ngram_jaccard_exact(spark):
    df = _near_dup_corpus(spark)
    pairs = {(r.id_a, r.id_b): r.jaccard for r in ngram_jaccard_pairs(df, "id", "text", threshold=0.3).collect()}
    assert pairs[(1, 4)] == 1.0
    assert 0.3 <= pairs[(1, 2)] < 1.0


def test_simhash_near_dups(spark):
    df = _near_dup_corpus(spark)
    pairs = simhash_pairs(df, "id", "text", max_hamming=3).collect()
    got = {(r.id_a, r.id_b): r.hamming for r in pairs}
    assert got[(1, 4)] == 0  # identical content, hamming 0
    assert all({a, b} != {3, 5} for a, b in got)


def test_minhash_estimate_tracks_exact_jaccard(spark, docs):
    """On the real documents table: MinHash estimate within 4 sd of exact
    Jaccard for the pairs both tiers report."""
    sample = docs.limit(60).selectExpr("doc_id as id", "text")
    est = {(r.id_a, r.id_b): r.est_jaccard for r in
           minhash_lsh_pairs(sample, "id", "text", num_perm=128, bands=32, threshold=0.2).collect()}
    exact = {(r.id_a, r.id_b): r.jaccard for r in
             ngram_jaccard_pairs(sample, "id", "text", threshold=0.01).collect()}
    sd = np.sqrt(0.25 / 128)
    for pair, e in est.items():
        if pair in exact:
            assert abs(e - exact[pair]) <= 4 * sd + 0.05, (pair, e, exact[pair])


def test_oph_minhash_finds_near_dups(spark):
    df = _near_dup_corpus(spark)
    pairs = oph_minhash_pairs(df, "id", "text", k=64, bands=32, threshold=0.35).collect()
    got = {(r.id_a, r.id_b): r.est_jaccard for r in pairs}
    assert got.get((1, 4)) == 1.0  # exact dup: identical signatures
    assert all({a, b} != {3, 5} for a, b in got)  # unrelated docs not paired


def test_oph_signatures_densified_and_track_jaccard(spark, docs):
    """Densification law: every signature is TOTAL (no nulls — empty
    buckets borrowed), length k, 1 <= n_filled <= k; and the densified
    estimator tracks exact Jaccard within the k-perm tolerance (the
    papers' variance-equivalence, checked empirically)."""
    sample = docs.limit(60).selectExpr("doc_id as id", "text")
    rows = oph_signatures(sample, "id", "text", k=64).collect()
    assert rows and all(
        len(r.sig) == 64 and all(v is not None for v in r.sig) and 1 <= r.n_filled <= 64
        for r in rows
    )
    est = {(r.id_a, r.id_b): r.est_jaccard for r in
           oph_minhash_pairs(sample, "id", "text", k=64, bands=32, threshold=0.2).collect()}
    exact = {(r.id_a, r.id_b): r.jaccard for r in
             ngram_jaccard_pairs(sample, "id", "text", threshold=0.01).collect()}
    sd = np.sqrt(0.25 / 64)
    for pair, e in est.items():
        if pair in exact:
            assert abs(e - exact[pair]) <= 4 * sd + 0.05, (pair, e, exact[pair])


# -------------------------------------------------------------- similarity
def test_cosine_topk_matches_numpy(spark, emb):
    rows = emb.collect()
    ids = np.array([r.vec_id for r in rows])
    M = np.vstack([np.asarray(r.embedding, dtype=np.float64) for r in rows])
    q = M[0]
    cos = (M @ q) / (np.linalg.norm(M, axis=1) * np.linalg.norm(q))
    order = np.lexsort((ids, -np.round(cos, 6)))[:10]
    want = [int(ids[i]) for i in order]

    got = [r.vec_id for r in cosine_topk(emb, q.tolist(), k=10).collect()]
    assert got == want
    assert got[0] == 0  # self-similarity 1.0


def test_rhp_ann_recall_planted(spark):
    """LSH ANN contract: high-similarity neighbors (the ones near-dup /
    retrieval cares about) land in probed buckets. Plant 9 neighbors at
    cosine ~0.97 among 300 random distractors."""
    rng = np.random.default_rng(21)
    q = rng.standard_normal(64)
    q /= np.linalg.norm(q)
    rows = [(0, q.tolist())]
    for i in range(1, 10):  # planted near neighbors at cosine ~0.95
        v = q + rng.standard_normal(64) * 0.04
        rows.append((i, (v / np.linalg.norm(v)).tolist()))
    for i in range(10, 310):  # distractors
        v = rng.standard_normal(64)
        rows.append((i, (v / np.linalg.norm(v)).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact_ids = [r.vec_id for r in cosine_topk(df, q.tolist(), k=10).collect()]
    assert set(exact_ids) == set(range(10))  # sanity: planted are the true top-10
    ann_ids = {r.vec_id for r in rhp_bucketed_topk(df, q.tolist(), k=10, bits=8, multiprobe=2).collect()}
    recall = len(set(exact_ids) & ann_ids) / 10
    assert recall >= 0.8, recall
    assert 0 in ann_ids  # the query itself always lands in its own bucket


def test_rhp_ann_on_real_embeddings_runs(spark, emb):
    """Real table smoke: near-orthogonal data (top cosine ~0.3) is
    documented-hostile to LSH; only require the query itself + a
    non-empty candidate set."""
    q = emb.where("vec_id = 7").first().embedding
    ann_ids = {r.vec_id for r in rhp_bucketed_topk(emb, list(q), k=10, bits=6, multiprobe=2).collect()}
    assert 7 in ann_ids and len(ann_ids) == 10


def test_embedding_near_dup_pairs(spark):
    rng = np.random.default_rng(5)
    base = rng.standard_normal(32)
    rows = [
        (1, (base / np.linalg.norm(base)).tolist()),
        (2, (base / np.linalg.norm(base) + rng.standard_normal(32) * 0.01).tolist()),
        (3, rng.standard_normal(32).tolist()),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = embedding_near_dup_pairs(df, threshold=0.98, bits=4).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    assert (1, 2) in got
    assert all(3 not in p for p in got)


def test_embedding_near_dup_hot_bucket_cap(spark):
    """A near-duplicate pile-up (the target workload) concentrates into
    one LSH bucket; the max_bucket cap must bound the pair blow-up and
    report what it dropped instead of going quadratic silently."""
    rng = np.random.default_rng(6)
    base = rng.standard_normal(32)
    base /= np.linalg.norm(base)
    hot = [(int(i), (base + rng.standard_normal(32) * 0.005).tolist()) for i in range(50)]
    df = spark.createDataFrame(hot, "vec_id long, embedding array<double>")
    stats: dict = {}
    capped = embedding_near_dup_pairs(df, threshold=0.9, bits=4, max_bucket=10, stats=stats)
    assert capped.count() == 0  # the one hot bucket (50 ids) exceeds the cap
    assert stats["dropped_buckets"] >= 1 and stats["dropped_ids"] >= 50
    stats2: dict = {}
    uncapped = embedding_near_dup_pairs(df, threshold=0.9, bits=4, max_bucket=100, stats=stats2)
    assert uncapped.count() == 50 * 49 // 2  # all pairs recovered under the cap
    assert stats2["dropped_buckets"] == 0 and stats2["dropped_ids"] == 0


# ---------------------------------------------------------------- text fns
def test_text_functions(spark, docs):
    row = docs.select(
        "text",
        token_count_expr("text").alias("ntok"),
        lang_id_expr("text").alias("lid"),
        fingerprint_expr("text").alias("fp"),
        *[v.alias(k) for k, v in quality_exprs("text").items()],
    ).first()
    assert row.ntok == len(row.text.split())
    assert row.fp >= 0
    assert 0.0 <= row.punct_ratio <= 1.0
    # empty string edge
    e = spark.createDataFrame([("",), ("   ",)], "text string").select(
        token_count_expr("text").alias("ntok"), fingerprint_expr("text").alias("fp")
    ).collect()
    assert [r.ntok for r in e] == [0, 0]
    assert [r.fp for r in e] == [0, 0]


def test_fingerprint_order_sensitive(spark):
    df = spark.createDataFrame([("a b c",), ("c b a",)], "text string")
    fps = [r.fp for r in df.select(fingerprint_expr("text").alias("fp")).collect()]
    assert fps[0] != fps[1]


# ------------------------------------------------------------------- topk
def test_exact_and_cms_topk(spark, sf_dir):
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    exact = [(r.key, r.cnt) for r in exact_topk(events, "event_type", k=5).collect()]
    approx = cms_topk(events, "event_type", k=5, eps=1e-4)
    assert [k for k, _ in approx] == [k for k, _ in exact]
    for (ek, ec), (ak, ac) in zip(exact, approx):
        assert ac >= ec  # CMS never undercounts
        assert ac - ec <= max(2, 0.01 * ec)


# --------------------------------------------------------------- quantiles
def test_exact_and_sketch_quantiles(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    qs = [0.1, 0.5, 0.9]
    exact = {r.q: r.value for r in exact_quantiles(li, "l_extendedprice", qs).collect()}
    vals = np.sort(np.array([r[0] for r in li.select("l_extendedprice").collect()]))
    for q in qs:
        assert exact[q] == vals[int((len(vals) - 1) * q)]
    for kind in ("kll", "tdigest"):
        sk = dict(sketch_quantiles(li, "l_extendedprice", qs, kind=kind))
        for q in qs:
            rank = np.searchsorted(vals, sk[q]) / len(vals)
            assert abs(rank - q) <= 0.03, (kind, q, rank)


# -------------------------------------------------------------- multimodal
def test_multimodal_plumbing(spark, docs):
    media = attach_fake_media(docs.limit(50), "doc_id", kind="image")
    feats = extract_features(media, dim=16).collect()
    assert len(feats) == 50
    import hashlib

    for r in feats[:5]:
        v = np.asarray(r.feature)
        assert v.shape == (16,) and abs(np.linalg.norm(v) - 1.0) < 1e-5
        assert r.n_bytes == 32
        # raw_fold must equal the independently computed byte-bucket sums
        digest = hashlib.sha256(f"image{r.media_id}".encode()).digest()
        expected = np.frombuffer(digest, dtype=np.uint8).astype(np.int64).reshape(16, 2).sum(axis=1)
        assert list(r.raw_fold) == expected.tolist()
    # determinism: same ids → same features
    again = extract_features(attach_fake_media(docs.limit(50), "doc_id"), dim=16).collect()
    f1 = {r.media_id: tuple(r.feature) for r in feats}
    f2 = {r.media_id: tuple(r.feature) for r in again}
    assert f1 == f2


def test_multimodal_real_decode_is_stubbed(spark, docs):
    media = attach_fake_media(docs.limit(5), "doc_id")
    with pytest.raises(Exception, match="NotImplementedError|real media decode"):
        extract_features(media, deterministic_fake=False).collect()


def test_bloom_semi_join_exact_and_pruning(spark, sf_dir):
    """bloom_semi_join == plain left-semi join exactly (no false
    negatives in the prefilter; exact confirm removes the FPs), and the
    prefilter really prunes: with a selective build side, the hit
    fraction is far below 1."""
    from pyspark.sql import functions as F

    from ip_filter_spark.engine import SketchSpec, build_and_merge, probe_membership
    from ip_filter_spark.operators.joins import bloom_semi_join

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    big = spark.read.parquet(f"{sf_dir}/orders.parquet").where(F.col("o_totalprice") > 300000).select("o_custkey")
    got = {r.c_custkey for r in bloom_semi_join(cust, big, "c_custkey", "o_custkey").collect()}
    want = {
        r.c_custkey
        for r in cust.join(big.distinct(), cust["c_custkey"] == big["o_custkey"], "left_semi").collect()
    }
    assert got == want
    # pruning: probe rows surviving the bloom stage ~= |matches| + fpp*rest
    keys = big.select(F.col("o_custkey").alias("__k")).distinct()
    spec = SketchSpec("bloom", {"fpp": 1e-4, "n": max(keys.count(), 1)})
    bf = build_and_merge(keys, [spec], key="__k")[spec.key()]
    survivors = probe_membership(cust, "c_custkey", bf, out_col="h").where("h").count()
    total = cust.count()
    assert survivors <= len(want) + max(10, int(1e-3 * total)), (survivors, len(want), total)
    assert survivors < total, "prefilter pruned nothing"


def test_connected_components_shapes(spark):
    """Chain (diameter stress), two cliques, shared-node merge; only
    edge-touched nodes appear."""
    from ip_filter_spark.operators.dedup import connected_components

    chain = [(i, i + 1) for i in range(9)]          # one component 0..9
    cliq = [(20, 21), (21, 22), (20, 22)]           # component 20..22
    bridge = [(22, 30), (40, 41)]                   # 30 joins 20s; 40-41 separate
    edges = spark.createDataFrame(chain + cliq + bridge, "id_a long, id_b long")
    got = {r.node: r.component for r in connected_components(edges, local_threshold=0).collect()}
    assert {got[i] for i in range(10)} == {0}
    assert {got[i] for i in (20, 21, 22, 30)} == {20}
    assert got[40] == got[41] == 40
    assert set(got) == set(range(10)) | {20, 21, 22, 30, 40, 41}


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    """checkpoint_dir switches the lineage cut to reliable checkpoint()
    files (survives executor loss, unlike localCheckpoint blocks) —
    same components; checkpoint data actually lands in the directory."""
    import os

    from ip_filter_spark.operators.dedup import connected_components

    chain = [(i, i + 1) for i in range(9)]
    edges = spark.createDataFrame(chain + [(40, 41)], "id_a long, id_b long")
    ckpt = str(tmp_path / "cc_ckpt")
    got = {
        r.node: r.component
        for r in connected_components(edges, checkpoint_dir=ckpt, local_threshold=0).collect()
    }
    assert {got[i] for i in range(10)} == {0}
    assert got[40] == got[41] == 40
    assert any(files for _, _, files in os.walk(ckpt)), "no reliable checkpoint files written"


def test_bloom_anti_join_exact(spark, sf_dir):
    """bloom_anti_join == plain left-anti join exactly: bloom negatives
    are certain non-members (emitted joinlessly), the exact confirm
    removes every false positive."""
    from ip_filter_spark.operators.joins import bloom_anti_join

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    big = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .where(F.col("o_totalprice") > 150000)
        .select("o_custkey")
    )
    got = {r.c_custkey for r in bloom_anti_join(cust, big, "c_custkey", "o_custkey").collect()}
    want = {
        r.c_custkey
        for r in cust.join(big.distinct(), cust["c_custkey"] == big["o_custkey"], "left_anti").collect()
    }
    assert got == want
    # complement of the semi-join partitions the probe side
    assert len(got) + cust.join(
        big.distinct(), cust["c_custkey"] == big["o_custkey"], "left_semi"
    ).count() == cust.count()


def test_distributed_prefix_sum_matches_global_window(spark):
    """Boundary-literal bucketed prefix sum == the single-partition
    global-window cumsum, on an adversarial value distribution (spikes,
    zeros, negatives) and a non-contiguous, shuffled order key."""
    import random

    from pyspark.sql import Window

    from ip_filter_spark.operators.aggregates import distributed_prefix_sum

    rnd = random.Random(5)
    ids = rnd.sample(range(1_000_000), 5000)
    rows = [(i, rnd.choice([0, 1, 3, -2, 1000])) for i in ids]
    df = spark.createDataFrame(rows, "k long, v long").repartition(16)

    got = {r.k: r.cum for r in distributed_prefix_sum(df, "k", "v", num_buckets=8).collect()}
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    want = {r.k: r.cum for r in df.withColumn("cum", F.sum("v").over(w)).collect()}
    assert got == want

    # no single-partition global window in the distributed plan: every
    # window node is partitioned (the only orderBy-without-partitionBy
    # window runs over the num_buckets-row offsets side)
    plan = distributed_prefix_sum(df, "k", "v", num_buckets=8)._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan


def test_distributed_prefix_sum_single_bucket_and_ties_contract(spark):
    from ip_filter_spark.operators.aggregates import distributed_prefix_sum

    df = spark.createDataFrame([(1, 10), (2, 20), (3, 30)], "k long, v long")
    got = sorted(
        (r.k, r.cum) for r in distributed_prefix_sum(df, "k", "v", num_buckets=1).collect()
    )
    assert got == [(1, 10), (2, 30), (3, 60)]


def test_distributed_prefix_sum_composite_key_with_lead_ties(spark):
    """Composite order key: ties on the lead column (the only one
    quantile boundaries see) are broken by the second column; the
    result must equal the global-window cumsum over the same composite
    ordering regardless of bucketing."""
    import random

    from pyspark.sql import Window

    from ip_filter_spark.operators.aggregates import distributed_prefix_sum

    rnd = random.Random(11)
    rows = [(rnd.randrange(40), i, rnd.choice([1, 2, 5])) for i in rnd.sample(range(100000), 3000)]
    df = spark.createDataFrame(rows, "g long, k long, v long").repartition(16)

    got = {
        (r.g, r.k): r.cum
        for r in distributed_prefix_sum(df, ["g", "k"], "v", num_buckets=8).collect()
    }
    w = Window.orderBy("g", "k").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    want = {(r.g, r.k): r.cum for r in df.withColumn("cum", F.sum("v").over(w)).collect()}
    assert got == want


def test_distributed_ntile_matches_native_ntile(spark):
    """distributed_ntile's rank-formula tiles == Spark's own NTILE over
    the single-partition global window, for remainder-bearing and
    remainder-free (n, k) combinations including n < k, on composite
    orderings with lead-column ties."""
    import random

    from pyspark.sql import Window

    from ip_filter_spark.operators.aggregates import distributed_ntile

    rnd = random.Random(7)
    for n, k in [(3, 4), (4, 4), (10, 4), (103, 7), (500, 16)]:
        rows = [(rnd.randrange(12), i) for i in rnd.sample(range(100000), n)]
        df = spark.createDataFrame(rows, "g long, k2 long").repartition(8)
        got = {
            (r.g, r.k2): r.tile
            for r in distributed_ntile(df, ["g", "k2"], k, num_buckets=4).collect()
        }
        w = Window.orderBy("g", "k2")
        want = {
            (r.g, r.k2): r.tile
            for r in df.withColumn("tile", F.ntile(k).over(w)).collect()
        }
        assert got == want, (n, k)


def test_connected_components_local_path_matches_distributed(spark):
    """The size-adaptive driver-side union-find returns the exact same
    (node, component) labeling as the distributed propagation, on a
    graph mixing a chain, cliques, a bridge, and isolated pairs."""
    import random

    from ip_filter_spark.operators.dedup import connected_components

    rnd = random.Random(17)
    edges_py = [(i, i + 1) for i in range(15)]                 # chain
    edges_py += [(100 + a, 100 + b) for a in range(8) for b in range(a)]  # clique
    edges_py += [(15, 100)]                                    # bridge
    edges_py += [(rnd.randrange(200, 260), rnd.randrange(200, 260)) for _ in range(40)]
    edges = spark.createDataFrame(edges_py, "id_a long, id_b long")
    local = {(r.node, r.component) for r in connected_components(edges).collect()}
    dist = {(r.node, r.component) for r in connected_components(edges, local_threshold=0).collect()}
    assert local == dist
    # labels follow the min-id convention
    assert min(n for n, _ in local) == 0 and (0, 0) in local


# ---------------------------------------------------------------- skew_split_join
def test_skew_split_join_exact(spark):
    """Sketch-guided split == plain inner join exactly: the hot/tail split
    partitions the big side, each leg computes its rows' exact join, and
    the union recombines them — for ANY detected hot set."""
    from ip_filter_spark.operators.joins import skew_split_join

    rows = [("hot", i) for i in range(500)] + [(f"k{j}", i) for j in range(50) for i in range(2)]
    big = spark.createDataFrame(rows, "k string, v int")
    dim = spark.createDataFrame(
        [("hot", 1.0)] + [(f"k{j}", float(j)) for j in range(0, 50, 2)], "dk string, w double"
    )
    got = skew_split_join(big, dim, "k", "dk", capacity=4, min_share=0.05)
    want = big.join(dim, big["k"] == dim["dk"]).select("k", "v", "w")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    # an adversarially WRONG hot set (missing the true heavy key, plus a
    # key that matches nothing) must still give the exact join — routing
    # only, never results
    wrong = skew_split_join(big, dim, "k", "dk", hot_keys=["k1", "absent"])
    assert sorted(map(tuple, wrong.collect())) == sorted(map(tuple, want.collect()))
    empty = skew_split_join(big, dim, "k", "dk", hot_keys=[])
    assert sorted(map(tuple, empty.collect())) == sorted(map(tuple, want.collect()))


def test_skew_split_join_left_preserves_big_side(spark):
    """how='left': unmatched and NULL-key big rows survive with null dim
    columns (nulls route to the tail leg, standard join semantics)."""
    from ip_filter_spark.operators.joins import skew_split_join

    rows = [("hot", i) for i in range(100)] + [("miss", 1), (None, 2)]
    big = spark.createDataFrame(rows, "k string, v int")
    dim = spark.createDataFrame([("hot", 1.0)], "dk string, w double")
    got = skew_split_join(big, dim, "k", "dk", capacity=2, min_share=0.1, how="left")
    want = big.join(dim, big["k"] == dim["dk"], "left").select("k", "v", "w")
    assert sorted(map(tuple, got.collect()), key=str) == sorted(map(tuple, want.collect()), key=str)
    assert got.count() == big.count()


def test_skew_split_join_hot_leg_broadcasts(spark):
    """The hot leg is a broadcast join (the skewed mass never shuffles);
    the plan carries two join legs."""
    from ip_filter_spark.operators.joins import skew_split_join

    big = spark.createDataFrame([("hot", i) for i in range(50)] + [("a", 1), ("b", 2)], "k string, v int")
    dim = spark.createDataFrame([("hot", 1.0), ("a", 2.0)], "dk string, w double")
    j = skew_split_join(big, dim, "k", "dk", hot_keys=["hot"])
    plan = j._sc._jvm.PythonSQLUtils.explainString(j._jdf.queryExecution(), "formatted")
    assert "BroadcastHashJoin" in plan, plan
    assert plan.count("Join") >= 2, plan


# ---------------------------------------------------------------- z-order layout
def test_zorder_key_interleave_exact(spark):
    """With identity bucket boundaries the z-key is exactly the Morton
    interleave: bit j of column c at lane j*ncols + (ncols-1-c)."""
    from ip_filter_spark.operators.layout import zorder_key

    rows = [(a, b) for a in range(8) for b in range(8)]
    df = spark.createDataFrame(rows, "x int, y int")
    bnds = {"x": [1, 2, 3, 4, 5, 6, 7], "y": [1, 2, 3, 4, 5, 6, 7]}

    def morton(a, b):
        out = 0
        for j in range(3):
            out |= ((a >> j) & 1) << (2 * j + 1)
            out |= ((b >> j) & 1) << (2 * j)
        return out

    z = df.withColumn("z", zorder_key(df, ["x", "y"], bits=3, boundaries=bnds))
    got = {(r.x, r.y): r.z for r in z.collect()}
    assert got == {(a, b): morton(a, b) for a, b in rows}


def test_zorder_write_roundtrip(spark, sf_dir, tmp_path):
    """Layout changes where rows live, never what they are: the z-ordered
    rewrite is the same multiset of rows."""
    from ip_filter_spark.operators.layout import zorder_write

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select("event_id", "user_id", "value")
    zdir = str(tmp_path / "z")
    zorder_write(ev, ["user_id", "value"], zdir, n_files=8)
    back = spark.read.parquet(zdir)
    assert back.count() == ev.count()

    def h(d):
        return d.select(
            F.sum(F.xxhash64("event_id", "user_id", "value").cast("decimal(38,0)")).alias("s")
        ).first().s

    assert h(back) == h(ev)


def test_prefix_filter_jaccard_equals_all_shingles_join(spark, sf_dir):
    """Prefix filtering is LOSSLESS: identical output to the naive
    all-shingles self-join at the same threshold, and the quadratic
    stage's input (the prefixes) is a strict subset of the shingles."""
    from ip_filter_spark.operators.dedup import (
        ngram_jaccard_pairs,
        prefix_filter_jaccard_pairs,
        shingles_expr,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    for t in (0.3, 0.5, 0.8):
        got = sorted(map(tuple, prefix_filter_jaccard_pairs(docs, "doc_id", "text", 3, t).collect()))
        want = sorted(map(tuple, ngram_jaccard_pairs(docs, "doc_id", "text", 3, t).collect()))
        assert got == want, f"threshold {t}: {len(got)} vs {len(want)} pairs"
    assert len(want) > 0  # t=0.8 still has planted near-dup pairs

    # pruning sanity: at t=0.5 each set's prefix is ~half its shingles
    sh = docs.select(F.col("doc_id"), F.explode(shingles_expr(F.col("text"), 3)).alias("sh")).distinct()
    n_shingles = sh.count()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    n_prefix = int(
        sizes.select(F.sum(F.col("sz") - F.ceil(F.lit(0.5) * F.col("sz")) + 1)).first()[0]
    )
    assert n_prefix < 0.65 * n_shingles


def test_bloom_index_prunes_and_is_exact(spark, sf_dir, tmp_path):
    from ip_filter_spark.sources.bloom_index import bloom_pruned_read, write_bloom_index

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    data = str(tmp_path / "events_by_user")
    ev.repartitionByRange(8, "user_id").write.parquet(data)
    write_bloom_index(spark, data, "user_id", fpp=1e-4, expected_keys_per_file=10_000)

    keys = [int(r.user_id) for r in ev.select("user_id").distinct().orderBy("user_id").limit(2).collect()]
    hits, stats = bloom_pruned_read(spark, data, "user_id", keys)
    want = sorted(map(tuple, ev.where(F.col("user_id").isin(keys)).collect()))
    got = sorted(map(tuple, hits.collect()))
    assert got == want
    # range-clustered layout: 2 adjacent keys live in <= 2 files; allow
    # fp slack but require REAL pruning
    assert stats.files_total >= 4
    assert stats.files_scanned <= 3, (stats.files_scanned, stats.files_total)

    # absent keys -> the index proves every file clean -> empty, zero files
    miss, mstats = bloom_pruned_read(spark, data, "user_id", [10**12, 10**12 + 1])
    assert miss.count() == 0
    assert mstats.files_scanned == 0


def test_equi_depth_histogram_matches_ntile(spark, sf_dir):
    import duckdb

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select("value", "event_id")
    for b in (4, 7):
        got = [
            (r.bucket, r.cnt, r.lo, r.hi)
            for r in __import__("ip_filter_spark.operators.quantiles", fromlist=["x"])
            .equi_depth_histogram(ev, "value", b, tie_col="event_id")
            .collect()
        ]
        want = duckdb.sql(
            f"""SELECT bucket, COUNT(*), MIN(value), MAX(value) FROM (
                 SELECT CAST(NTILE({b}) OVER (ORDER BY value, event_id) AS INT) AS bucket, value
                 FROM '{sf_dir}/events.parquet') GROUP BY bucket ORDER BY bucket"""
        ).fetchall()
        assert got == [tuple(w) for w in want]
        counts = [c for _, c, _, _ in got]
        assert max(counts) - min(counts) <= 1  # equi-depth invariant


def test_bloom_index_scan_reads_only_candidate_files(spark, sf_dir, tmp_path):
    """The pruned read's PLAN must list only candidate files — pinned via
    inputFiles(), not just the stats object."""
    from ip_filter_spark.sources.bloom_index import bloom_pruned_read, write_bloom_index

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    data = str(tmp_path / "ev")
    ev.repartitionByRange(8, "user_id").write.parquet(data)
    write_bloom_index(spark, data, "user_id", fpp=1e-4, expected_keys_per_file=10_000)
    key = int(ev.agg(F.min("user_id")).first()[0])
    hits, stats = bloom_pruned_read(spark, data, "user_id", [key])
    files = hits.inputFiles()
    assert 0 < len(files) == stats.files_scanned < stats.files_total
    # every scanned file is a DIRECT child of the data dir (not the
    # _bloom_index sidecar, not the original source parquet)
    suffixes = [f.split("/ev/", 1)[1] for f in files]
    assert all("/" not in s and s.endswith(".parquet") for s in suffixes)


def test_bloom_index_compaction_merge(spark, sf_dir, tmp_path):
    """OR-merging file blobs (compaction path) preserves membership: the
    merged blob contains every key either input contained."""
    from ip_filter_spark.sketches import from_bytes
    from ip_filter_spark.sources.bloom_index import merge_index_blobs, write_bloom_index
    from ip_filter_spark.sources.skipping import literal_probe

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    data = str(tmp_path / "ev")
    ev.repartitionByRange(4, "user_id").write.parquet(data)
    idx_path = write_bloom_index(spark, data, "user_id", fpp=1e-4, expected_keys_per_file=10_000)
    blobs = [bytes(r.blob) for r in spark.read.parquet(idx_path).collect()]
    merged = from_bytes(merge_index_blobs(blobs))
    all_keys = [int(r.user_id) for r in ev.select("user_id").distinct().collect()]
    _, _, h64 = literal_probe(spark, all_keys, ev.schema["user_id"].dataType)
    assert len(h64) == len(all_keys) and bool(merged.contains_hashes(h64).all())


def test_term_index_search_matches_postings_and_prunes(spark, sf_dir, tmp_path):
    """The persisted term index returns exactly the in-memory conjunctive
    answer, and the query's scan READS only the query terms' bucket
    partitions: xxhash64(literal term) constant-folds at plan time into a
    PartitionFilter, and the executed scan's filesSize metric shows a
    fraction of the index was opened (inputFiles() lists the whole
    relation, so the executed metric is the ground truth)."""
    from tests.test_plans import _plan, _scan_metric

    from ip_filter_spark.sources.inverted_index import (
        build_postings,
        conjunctive_search,
        pruned_postings,
        search_term_index,
        write_term_index,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    data = str(tmp_path / "docs")
    docs.write.parquet(data)
    write_term_index(spark.read.parquet(data), data, num_buckets=32)

    terms = ["spark", "merge", "window"]
    got = search_term_index(spark, data, terms, num_buckets=32)
    want = conjunctive_search(build_postings(docs), terms)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert want.count() > 0  # non-vacuous at every SF

    # plan + executed metric on the scan-only slice (AQE hides metrics
    # on aggregate plans from the walker)
    scan = pruned_postings(spark, data, terms, num_buckets=32)
    plan = _plan(scan)
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln][0]
    assert "bucket" in pf and "xxhash64" not in pf, pf

    scan.collect()
    full = spark.read.parquet(f"{data}/_term_index")
    full.collect()
    pruned_files = _scan_metric(scan, "numFiles")
    full_files = _scan_metric(full, "numFiles")
    assert 0 < pruned_files <= len(terms) < full_files, (pruned_files, full_files)


def test_term_index_df_cap_drops_stopwords(spark, sf_dir, tmp_path):
    """df_cap removes terms present in more than the given fraction of
    docs — the longest posting lists — while keeping rare terms."""
    from ip_filter_spark.sources.inverted_index import build_postings, write_term_index

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_docs = docs.count()
    data = str(tmp_path / "docs")
    docs.write.parquet(data)
    path = write_term_index(docs, data, num_buckets=8, df_cap=0.5)
    kept = spark.read.parquet(path)
    df_by_term = dict(
        build_postings(docs).groupBy("term").count().collect()
    )
    kept_terms = {r.term for r in kept.select("term").distinct().collect()}
    assert kept_terms  # something survives
    assert all(df_by_term[t] <= 0.5 * n_docs for t in kept_terms)
    dropped = set(df_by_term) - kept_terms
    assert all(df_by_term[t] > 0.5 * n_docs for t in dropped)


def test_quantize_int8_reconstruction_bound(spark, emb):
    """Absmax int8: |x - q*scale| <= scale/2 per element, codes in
    [-127, 127], stored as tinyint."""
    from ip_filter_spark.operators.similarity import quantize_int8

    q = quantize_int8(emb)
    assert dict(q.dtypes)["qvec"] == "array<tinyint>"
    rows = q.select("embedding", "qscale", "qvec").limit(50).collect()
    for r in rows:
        x = np.asarray(r.embedding, dtype=np.float64)
        qq = np.asarray(r.qvec, dtype=np.int64)
        assert qq.min() >= -127 and qq.max() <= 127
        assert np.all(np.abs(x - qq * r.qscale) <= r.qscale / 2 + 1e-12)


def test_quantized_topk_tracks_float_cosine(spark):
    """On clustered data (the real embedding regime) the int8 code
    ranking recovers the float-cosine top-k: plant 10 near neighbors of
    a query among 200 distractors; recall must be 1.0 and the planted
    self-match must rank first."""
    from ip_filter_spark.operators.similarity import cosine_topk, quantized_dot_topk

    rng = np.random.default_rng(11)
    qv = rng.standard_normal(64)
    qv /= np.linalg.norm(qv)
    rows = [(0, qv.tolist())]
    for i in range(1, 11):
        v = qv + rng.standard_normal(64) * 0.05
        rows.append((i, (v / np.linalg.norm(v)).tolist()))
    for i in range(11, 211):
        v = rng.standard_normal(64)
        rows.append((i, (v / np.linalg.norm(v)).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    exact = [r.vec_id for r in cosine_topk(
        df.withColumn("embedding", F.col("embedding").cast("array<double>")),
        qv.tolist(), k=11).collect()]
    got = [r.vec_id for r in quantized_dot_topk(df, query_id=0, k=10).orderBy("rank").collect()]
    assert set(got) == set(exact) - {0}, (got, exact)


def test_quantized_topk_plans_as_window_group_limit(spark, emb):
    """The rank<=k filter must plan as a partial top-k before any
    exchange — WindowGroupLimit for grouped ranks, or (this global-rank
    case) TakeOrderedAndProject feeding the Window — never a full sort
    of the scored corpus."""
    from tests.test_plans import _plan

    from ip_filter_spark.operators.similarity import quantized_dot_topk

    plan = _plan(quantized_dot_topk(emb, query_id=0, k=10))
    assert "WindowGroupLimit" in plan or "TakeOrderedAndProject" in plan, plan
    assert "Sort " not in plan.split("TakeOrderedAndProject")[0], plan


def test_cdc_latest_state_and_upsert(spark):
    """Latest-state compaction + upsert precedence: later order keys
    win; at an exact order-key tie the CHANGE beats the base (idempotent
    replay); keys without changes keep their base row."""
    from ip_filter_spark.operators.cdc import latest_state, upsert_snapshot

    log = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (2, 5, "c")], "k long, ver long, v string"
    )
    snap = latest_state(log, ["k"], ["ver"])
    assert {(r.k, r.ver, r.v) for r in snap.collect()} == {(1, 20, "b"), (2, 5, "c")}

    delta = spark.createDataFrame(
        [(1, 20, "b2"), (3, 1, "new")], "k long, ver long, v string"
    )
    merged = upsert_snapshot(snap, delta, ["k"], ["ver"])
    got = {(r.k, r.ver, r.v) for r in merged.collect()}
    # k=1: delta row wins the ver tie (change precedence); k=2 untouched
    assert got == {(1, 20, "b2"), (2, 5, "c"), (3, 1, "new")}

    # replaying the same delta is a no-op
    again = upsert_snapshot(merged, delta, ["k"], ["ver"])
    assert {(r.k, r.ver, r.v) for r in again.collect()} == got


def test_cdc_latest_state_plans_map_side_topk(spark, sf_dir):
    """The rn=1 filter must plan as WindowGroupLimit: per-task partial
    winner per key before the exchange — shuffle O(keys), not O(log)."""
    from tests.test_plans import _plan

    from ip_filter_spark.operators.cdc import latest_state

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    plan = _plan(latest_state(ev, ["user_id"], ["ts", "event_id"]))
    assert "WindowGroupLimit" in plan, plan


def test_bm25_semantics_rare_term_wins(spark, tmp_path, monkeypatch):
    """BM25 behavior pin (the tri-scale oracle pins parity; this pins
    MEANING): with one query, a doc matching the RARE query term
    outranks a doc matching only the common one, and more occurrences
    at equal length rank higher."""
    from ip_filter_spark.queries import bm25_top_docs

    rows = [
        (0, "rare alpha beta gamma delta"),          # rare term once
        (1, "common alpha beta gamma delta"),        # common term once
        (2, "rare rare alpha beta gamma"),           # rare term twice
    ] + [(10 + i, f"common filler{i} x y z") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "documents.parquet")
    df.write.parquet(path)

    import ip_filter_spark.queries.text as Qtext

    monkeypatch.setattr(Qtext, "_SEARCH_TERMS", ("rare", "common", "zzznothing"))
    ranked = [r.doc_id for r in bm25_top_docs(spark, str(tmp_path)).orderBy("rank").collect()]
    # doc 2 (rare x2) > doc 0 (rare x1) > doc 1 (common, same dl as 0)
    assert ranked.index(2) < ranked.index(0) < ranked.index(1)


def test_ngrams_expr_edges(spark):
    from ip_filter_spark.functions.text import ngrams_expr

    df = spark.createDataFrame(
        [("a b c d",), ("a  b",), ("solo",), ("",), ("x y",)], ["text"]
    ).select(ngrams_expr("text", 3).alias("g"))
    rows = [r.g for r in df.collect()]
    assert rows[0] == ["a b c", "b c d"]
    assert rows[1] == []  # 2 tokens < n; double space collapses
    assert rows[2] == [] and rows[3] == []
    assert rows[4] == []
    bi = spark.createDataFrame([("a  b c",)], ["text"]).select(
        ngrams_expr("text", 2).alias("g")
    )
    assert bi.collect()[0].g == ["a b", "b c"]


def test_activity_islands_streaks(spark):
    from ip_filter_spark.operators.sequences import activity_islands

    # user 1: days 1,2,3,7,8 -> streaks [3,2]; user 2: day 5 (dup'd) -> [1]
    df = spark.createDataFrame(
        [(1, 1), (1, 2), (1, 3), (1, 7), (1, 8), (2, 5), (2, 5)],
        ["user_id", "day"],
    )
    out = {r.user_id: r for r in activity_islands(df).collect()}
    assert (out[1].longest_streak, out[1].n_streaks, out[1].n_active_days) == (3, 2, 5)
    assert (out[2].longest_streak, out[2].n_streaks, out[2].n_active_days) == (1, 1, 1)


def test_transition_counts_lag_semantics(spark):
    from ip_filter_spark.operators.sequences import transition_counts

    df = spark.createDataFrame(
        [
            (1, "a", 10, 1),
            (1, "b", 20, 2),
            (1, "b", 20, 3),  # tie on ts -> event_id breaks it
            (2, "b", 5, 4),
            (2, "a", 6, 5),
        ],
        ["user_id", "event_type", "ts", "event_id"],
    )
    out = {
        (r.prev_state, r.next_state): (r.n_transitions, r.n_users)
        for r in transition_counts(df).collect()
    }
    assert out[("a", "b")] == (1, 1)
    assert out[("b", "b")] == (1, 1)
    assert out[("b", "a")] == (1, 1)
    assert len(out) == 3  # first event per user emits nothing


def test_edit_distance_pairs_blocked_exact(spark):
    from ip_filter_spark.operators.dedup import edit_distance_pairs

    base = "the quick brown fox jumps over the lazy dog " * 3
    df = spark.createDataFrame(
        [
            (1, base),
            (2, base + "x"),  # dist 1, same band
            (3, "z" * 600),  # far band, never joined
            (4, base[:-30]),  # same-ish length but dist > 20? -> len diff 31 cuts it
        ],
        ["doc_id", "text"],
    )
    pairs = {
        (r.id_a, r.id_b): r.edit_dist
        for r in edit_distance_pairs(df, "doc_id", "text").collect()
    }
    assert pairs == {(1, 2): 1}


def test_edit_distance_block_cap_is_deterministic(spark):
    from ip_filter_spark.operators.dedup import edit_distance_pairs

    df = spark.createDataFrame(
        [(i, f"same length text number {i:04d}") for i in range(40)],
        ["doc_id", "text"],
    )
    a = edit_distance_pairs(df, "doc_id", "text", max_block=8).collect()
    b = edit_distance_pairs(df, "doc_id", "text", max_block=8).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    # cap bounds the quadratic stage: at most C(8,2) pairs per block
    assert len(a) <= 28


def test_ngram_overlap_report_broadcast_and_exact(spark):
    from ip_filter_spark.operators.decontaminate import ngram_overlap_report

    bench = spark.createDataFrame([(100, "alpha beta gamma delta")], ["doc_id", "text"])
    train = spark.createDataFrame(
        [
            (1, "alpha beta gamma zeta"),  # grams: 2 total, 1 hit -> contaminated
            (2, "one two three four"),  # no hits -> absent from output
            (3, "x alpha beta gamma delta y epsilon eta theta iota"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in ngram_overlap_report(train, bench).collect()}
    assert set(out) == {1, 3}
    assert (out[1].n_grams, out[1].n_hit, out[1].contaminated) == (2, 1, True)
    assert out[3].n_hit == 2 and out[3].n_grams == 8
    assert bool(out[3].contaminated) == (out[3].n_hit * 4 >= out[3].n_grams)
    # the gram join must be broadcast (benchmark side is fixed-size)
    plan = ngram_overlap_report(train, bench)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_chunking_boundaries(spark):
    """Chunk starts are 1, 49, 97, ...: a 64-token doc yields chunks of
    64 and 16 (start 49 overlaps the tail), a 48-token doc exactly one
    chunk, a 49-token doc two (the second a single token)."""
    from ip_filter_spark.queries import chunk_docs_for_rag

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"w{i}" for i in range(64))),
            (2, " ".join(f"w{i}" for i in range(48))),
            (3, " ".join(f"w{i}" for i in range(49))),
        ],
        ["doc_id", "text"],
    )
    docs.createOrReplaceTempView("_chunk_docs")
    import tempfile, os

    with tempfile.TemporaryDirectory() as d:
        docs.write.parquet(os.path.join(d, "documents.parquet"))
        out = {
            (r.doc_id, r.chunk_ix): r.n_chunk_tokens
            for r in chunk_docs_for_rag(spark, d).collect()
        }
    assert out[(1, 0)] == 64 and out[(1, 1)] == 16
    assert out[(2, 0)] == 48 and (2, 1) not in out
    assert out[(3, 0)] == 49 and out[(3, 1)] == 1


def test_repetition_flags_short_and_repetitive_docs(spark):
    """Docs with < 2 tokens have zero bigrams (never bigram-flagged);
    a doc that is one word repeated trips BOTH the top-bigram and the
    distinct-ratio rule; normal text trips neither."""
    from ip_filter_spark.queries import repetition_stats_docs
    import tempfile, os

    docs = spark.createDataFrame(
        [
            (1, "solo", "xx", "s", 4),
            (2, "spam " * 50, "xx", "s", 250),
            (3, "the quick brown fox jumps over a lazy dog", "xx", "s", 43),
        ],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    with tempfile.TemporaryDirectory() as d:
        docs.write.parquet(os.path.join(d, "documents.parquet"))
        row = repetition_stats_docs(spark, d).collect()[0]
    assert row.n_docs == 3
    assert row.n_flagged == 1  # only the spam doc
    assert row.total_bigrams == 49 + 8  # 50-token spam + 9-token normal


def test_duplicate_span_stats_exact_substr(spark):
    """Two docs sharing a 4-token span + one within-doc repeat: the
    shared span counts (2 occ, 2 docs), the self-repeat (2 occ, 1 doc),
    unique windows are absent."""
    from ip_filter_spark.operators.dedup import duplicate_span_stats

    docs = spark.createDataFrame(
        [
            (1, "a b c d x y z w"),
            (2, "q r a b c d t u"),
            (3, "m n o p m n o p"),  # within-doc repeated span "m n o p"
        ],
        ["doc_id", "text"],
    )
    rows = duplicate_span_stats(docs, "text", "doc_id", window_tokens=4, top_k=10).collect()
    by_counts = {(r.n_occurrences, r.n_docs) for r in rows}
    assert (2, 2) in by_counts  # "a b c d" across docs 1 and 2
    assert (2, 1) in by_counts  # "m n o p" twice inside doc 3
    assert all(r.n_occurrences > 1 for r in rows)


def test_balanced_sample_matches_naive_window(spark):
    """The two-phase bucket-histogram selection equals the naive
    row_number-per-group form exactly, including when the cut bucket is
    mid-group (probe_chars=1 forces multi-row buckets)."""
    from pyspark.sql import Window

    from ip_filter_spark.sources.sampling import balanced_sample

    df = spark.createDataFrame(
        [(i, f"g{i % 3}", f"text {i}") for i in range(90)],
        ["id", "grp", "text"],
    )
    key = F.sha2(F.concat_ws(":", "text", "id"), 256)
    got = {
        r.id
        for r in balanced_sample(df, "grp", key, n_per_group=7, probe_chars=1).collect()
    }
    w = Window.partitionBy("grp").orderBy("__k")
    want = {
        r.id
        for r in df.withColumn("__k", key)
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= 7)
        .collect()
    }
    assert got == want and len(got) == 21


def test_incremental_lsh_index_finds_planted_near_dup(spark, tmp_path, executed_plans):
    """A new doc nearly identical to an indexed doc is found; an
    unrelated new doc pairs with nothing; the bucket-cap predicate is
    pushed into the postings scan (no corpus-side bucket-count job at
    query time). The query runs inside the call (its output is cut), so
    the plans checked are those of the executions the call ran."""
    from ip_filter_spark.operators.dedup import build_lsh_index, query_lsh_index

    base = "spark merge window table scan filter join group sort hash value batch"
    old = spark.createDataFrame(
        [(1, base), (2, "completely different words entirely " * 3)],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame(
        [(100, base + " extra"), (101, "nothing shared here at all whatsoever")],
        ["doc_id", "text"],
    )
    idx = str(tmp_path / "lsh")
    build_lsh_index(old, "doc_id", "text", idx, num_perm=64, bands=16)
    out = []
    plans = executed_plans(
        lambda: out.extend(
            query_lsh_index(spark, idx, new, "doc_id", "text", num_perm=64, bands=16, threshold=0.5).collect()
        )
    )
    assert {(r.new_id, r.old_id) for r in out} == {(100, 1)}
    assert all(r.est_jaccard >= 0.5 for r in out)
    # the bucket-cap filter reaches the postings scan
    assert any(re.search(r"PushedFilters: \[[^\]]*n_in_bucket", p) for p in plans), plans


def test_new_operators_handle_empty_and_degenerate_inputs(spark, tmp_path):
    """Empty corpora and over-large budgets must not throw: span stats on
    an empty table, balanced_sample asking for more rows than any group
    has (keeps everything), and an LSH query with an empty new batch."""
    from ip_filter_spark.operators.dedup import (
        build_lsh_index,
        duplicate_span_stats,
        query_lsh_index,
    )
    from ip_filter_spark.sources.sampling import balanced_sample

    empty = spark.createDataFrame([], "doc_id bigint, text string")
    assert duplicate_span_stats(empty, "text", "doc_id", window_tokens=4).count() == 0

    df = spark.createDataFrame(
        [(i, f"g{i % 2}", f"text {i}") for i in range(6)], ["id", "grp", "text"]
    )
    key = F.sha2(F.concat_ws(":", "text", "id"), 256)
    kept = balanced_sample(df, "grp", key, n_per_group=100)
    assert kept.count() == 6  # budget exceeds every group: keep all

    idx = str(tmp_path / "lsh_e")
    build_lsh_index(df, "id", "text", idx, num_perm=64, bands=16)
    empty_new = spark.createDataFrame([], "id bigint, text string")
    assert (
        query_lsh_index(spark, idx, empty_new, "id", "text", num_perm=64, bands=16).count()
        == 0
    )


def test_pq_codebook_adc_tracks_exact_dot(spark):
    """On clustered vectors, ADC top-1 for a cluster-member query is a
    member of the same cluster; codebooks are deterministic (two trains
    on the same data are identical); codes use the full declared shape."""
    import numpy as np

    from ip_filter_spark.operators.similarity import PQCodebook

    rng = np.random.default_rng(7)
    centers = rng.normal(0, 1, (4, 64))
    vecs = [
        (int(i), (centers[i % 4] + rng.normal(0, 0.05, 64)).tolist())
        for i in range(200)
    ]
    emb = spark.createDataFrame(vecs, "vec_id bigint, embedding array<double>")
    pq = PQCodebook.train(emb, m=8, k=16, iters=3)
    pq2 = PQCodebook.train(emb, m=8, k=16, iters=3)
    assert np.array_equal(pq.C, pq2.C)  # RNG-free determinism
    codes = pq.encode(emb, "vec_id", "embedding")
    q = vecs[0][1]  # cluster-0 member
    top = (
        codes.withColumn("adc", pq.adc_score_expr(q))
        .orderBy(F.desc("adc"), F.asc("id"))
        .limit(5)
        .collect()
    )
    assert all(r.id % 4 == 0 for r in top)  # all top-ADC hits in cluster 0
    first = codes.first()
    assert len(first.codes) == 8 and all(0 <= c < 16 for c in first.codes)


def test_ivfpq_index_prunes_and_finds_cluster(spark, tmp_path):
    """IVF-PQ on planted clusters: a member query's probed cells contain
    its cluster, the pruned scan reads fewer rows than the corpus, and
    the exact re-rank puts the query itself first."""
    import numpy as np

    from ip_filter_spark.operators.similarity import IVFPQIndex

    rng = np.random.default_rng(9)
    centers = rng.normal(0, 1, (4, 64))
    vecs = [
        (int(i), (centers[i % 4] + rng.normal(0, 0.05, 64)).tolist())
        for i in range(200)
    ]
    emb = spark.createDataFrame(vecs, "vec_id bigint, embedding array<double>")
    path = str(tmp_path / "ivfpq")
    idx = IVFPQIndex.build(emb, path, nlist=8, m=8, k=16, iters=3)
    q = vecs[0][1]
    top = idx.topk(emb, q, k=5, nprobe=2).collect()
    assert top[0].vec_id == 0 and abs(top[0].cosine - 1.0) < 1e-6
    qn = np.asarray(q) / np.linalg.norm(q)
    cids = [int(c) for c in np.argsort(-(idx.centroids @ qn))[:2]]
    n_scanned = (
        spark.read.parquet(path).where(F.col("cid").isin(cids)).count()
    )
    assert 0 < n_scanned < 200  # genuinely pruned


def test_pagerank_integer_exact_fixed_point(spark, tmp_path):
    """Integer PageRank on a hand-checkable star graph matches the
    recurrence computed independently in pure Python, bit for bit, and
    the reliable-checkpoint path returns the identical result."""
    from ip_filter_spark.operators.graph import pagerank_integer

    # star: hub h <-> leaves a,b,c (symmetrized)
    pairs = [("h", x) for x in "abc"] + [(x, "h") for x in "abc"]
    edges = spark.createDataFrame(pairs, "src string, dst string")

    # independent reference: same recurrence in plain dict arithmetic
    out = {"h": 3, "a": 1, "b": 1, "c": 1}
    rank = {v: 1_000_000 for v in "habc"}
    for _ in range(3):
        share = {v: rank[v] // out[v] for v in rank}
        contrib = {"h": share["a"] + share["b"] + share["c"]}
        for x in "abc":
            contrib[x] = share["h"]
        rank = {v: 150_000 + (85 * contrib[v]) // 100 for v in rank}

    got = {
        r["node"]: r["rank"]
        for r in pagerank_integer(edges, iterations=3).collect()
    }
    assert got == rank
    # symmetric leaves must tie exactly; hub strictly dominates
    assert got["a"] == got["b"] == got["c"] < got["h"]

    ckpt = {
        r["node"]: r["rank"]
        for r in pagerank_integer(
            edges, iterations=3, checkpoint_dir=str(tmp_path / "pr_ckpt")
        ).collect()
    }
    assert ckpt == rank


def test_pagerank_integer_dangling_and_sink(spark):
    """A directed chain with a sink: the sink receives but never emits
    (out-degree 0 -> contributes nothing), and a 4-iteration run stays
    deterministic across repartitionings."""
    from ip_filter_spark.operators.graph import pagerank_integer

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c")], "src string, dst string"
    )
    r1 = {r["node"]: r["rank"] for r in pagerank_integer(edges, iterations=4).collect()}
    r2 = {
        r["node"]: r["rank"]
        for r in pagerank_integer(edges.repartition(7), iterations=4).collect()
    }
    assert r1 == r2
    # 'a' has no in-edges: fixed at base after iteration 1
    assert r1["a"] == 150_000
    # sink 'c' accumulates from both a and b
    assert r1["c"] > r1["b"] > r1["a"]


def test_resolve_hierarchy_pointer_doubling(spark, tmp_path):
    """Pointer doubling on a hand-checkable two-tree forest resolves
    every node to the right (root, depth), a chain deeper than one
    doubling round still converges, and the reliable-checkpoint path
    returns the identical result."""
    from ip_filter_spark.operators.graph import resolve_hierarchy

    #   r1            r2
    #   /\             |
    #  a  b            x
    #  |               |
    #  c               y   (chain depth 2 under r2)
    rows = [
        ("r1", None), ("a", "r1"), ("b", "r1"), ("c", "a"),
        ("r2", None), ("x", "r2"), ("y", "x"),
    ]
    h = spark.createDataFrame(rows, "node string, parent string")
    got = {
        r["node"]: (r["root"], r["depth"])
        for r in resolve_hierarchy(h).collect()
    }
    assert got == {
        "r1": ("r1", 0), "a": ("r1", 1), "b": ("r1", 1), "c": ("r1", 2),
        "r2": ("r2", 0), "x": ("r2", 1), "y": ("r2", 2),
    }

    # depth-5 chain: needs 3 doubling rounds, not 5 linear ones
    chain = [("n0", None)] + [(f"n{i}", f"n{i-1}") for i in range(1, 6)]
    hc = spark.createDataFrame(chain, "node string, parent string")
    got_c = {r["node"]: (r["root"], r["depth"]) for r in resolve_hierarchy(hc).collect()}
    assert got_c == {f"n{i}": ("n0", i) for i in range(6)}

    ck = {
        r["node"]: (r["root"], r["depth"])
        for r in resolve_hierarchy(
            hc, checkpoint_dir=str(tmp_path / "hier_ckpt")
        ).collect()
    }
    assert ck == got_c


def test_resolve_hierarchy_cycle_raises(spark):
    """A parent cycle never reaches a root: the doubling loop must fail
    loudly instead of spinning."""
    import pytest as _pytest

    from ip_filter_spark.operators.graph import resolve_hierarchy

    h = spark.createDataFrame(
        [("a", "b"), ("b", "a")], "node string, parent string"
    )
    with _pytest.raises(RuntimeError, match="did not resolve"):
        resolve_hierarchy(h, max_iterations=4)


def test_resolve_hierarchy_missing_parent_raises(spark):
    """A parent pointing at a node the input never lists can never
    resolve: it must raise like a cycle, not silently vanish from the
    output (the inner-join formulation dropped the row)."""
    import pytest as _pytest

    from ip_filter_spark.operators.graph import resolve_hierarchy

    h = spark.createDataFrame(
        [("r", None), ("a", "r"), ("orphan", "ghost")],
        "node string, parent string",
    )
    with _pytest.raises(RuntimeError, match="did not resolve"):
        resolve_hierarchy(h, max_iterations=4)


def test_triangles_canonical_enumeration(spark):
    """K4 has exactly 4 triangles, each emitted once with a < b < c; an
    open square (4-cycle) has none."""
    from ip_filter_spark.operators.graph import triangles

    k4 = [(i, j) for i in range(4) for j in range(i + 1, 4)]
    e = spark.createDataFrame(k4, "a int, b int")
    tri = sorted(tuple(r) for r in triangles(e).collect())
    assert tri == [(0, 1, 2), (0, 1, 3), (0, 2, 3), (1, 2, 3)]

    square = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (0, 3)], "a int, b int"
    )
    assert triangles(square).count() == 0


def test_snapshot_table_isolation_incremental_and_atomicity(spark, tmp_path):
    """Manifest-backed snapshot tables: time travel sees only a pinned
    snapshot's files, incremental scans see only the delta, crashed
    writers (data files without a committed manifest) are invisible,
    and bad incremental windows raise."""
    import os

    import pytest as _pytest

    from ip_filter_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(str(tmp_path / "tbl"))
    assert t.snapshots() == [] and t.current_snapshot() == 0

    df1 = spark.range(0, 10).withColumnRenamed("id", "k")
    df2 = spark.range(10, 25).withColumnRenamed("id", "k")
    df3 = spark.range(25, 30).withColumnRenamed("id", "k")
    s1, s2, s3 = t.append(df1), t.append(df2), t.append(df3)
    assert t.snapshots() == [s1, s2, s3]

    # time travel: reads pinned to s1/s2 never see later appends
    assert t.read(spark, s1).count() == 10
    assert sorted(r.k for r in t.read(spark, s2).collect()) == list(range(25))
    assert t.read(spark).count() == 30  # current

    # incremental: only the (from, to] delta's files are planned
    inc = t.incremental(spark, s1, s3)
    assert sorted(r.k for r in inc.collect()) == list(range(10, 30))
    assert t.incremental(spark, 0, s1).count() == 10
    with _pytest.raises(ValueError):
        t.incremental(spark, s3, s1)

    # atomicity: a data dir with no committed manifest is invisible
    orphan = str(tmp_path / "tbl" / "data" / "999-orphan.parquet")
    spark.range(5).write.parquet(orphan)
    assert t.snapshots() == [s1, s2, s3]
    assert t.read(spark).count() == 30
    assert os.path.exists(orphan)  # the file is there; readers just never plan it


def test_char_entropy_expr_matches_numpy(spark):
    """JVM char_entropy_expr equals an independent numpy computation of
    -sum p*log2 p over the character multiset (to float tolerance), and
    empty text maps to 0."""
    from collections import Counter

    import numpy as np

    from ip_filter_spark.functions.text import char_entropy_expr
    from pyspark.sql import functions as F

    texts = ["aaaa", "abab", "abcd", "the quick brown fox", "", "aab"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i int, t string")
    got = {r.i: r.h for r in df.select("i", char_entropy_expr("t").alias("h")).collect()}
    for i, t in enumerate(texts):
        if not t:
            assert got[i] == 0.0
            continue
        cnt = np.array(list(Counter(t).values()), dtype=float)
        p = cnt / cnt.sum()
        want = float(-(p * np.log2(p)).sum())
        assert abs(got[i] - want) < 1e-9, (t, got[i], want)


def test_pii_expressions_extract_and_redact(spark):
    """PII patterns hit emails and dotted quads, redaction removes every
    match (idempotent — zero hits on the redacted text), and non-PII
    text passes through untouched."""
    from ip_filter_spark.functions.text import pii_counts_exprs, redact_pii_expr
    from pyspark.sql import functions as F

    rows = [
        (0, "mail a.b-c_1%x+y@sub.domain.org and host 192.168.0.1 end"),
        (1, "no pii here just words"),
        (2, "two mails x@y.io z@w.ab plus 10.0.0.255 and 1.2.3.4"),
    ]
    df = spark.createDataFrame(rows, "i int, t string")
    hits = pii_counts_exprs("t")
    out = (
        df.withColumn("red", redact_pii_expr("t"))
        .select(
            "i",
            "t",
            "red",
            hits["n_email"].alias("ne"),
            hits["n_ipv4"].alias("ni"),
        )
        .collect()
    )
    by_i = {r.i: r for r in out}
    assert (by_i[0].ne, by_i[0].ni) == (1, 1)
    assert (by_i[1].ne, by_i[1].ni) == (0, 0)
    assert by_i[1].red == by_i[1].t
    assert (by_i[2].ne, by_i[2].ni) == (2, 2)
    assert "[EMAIL]" in by_i[0].red and "[IPV4]" in by_i[0].red
    # redaction is complete: re-extracting on the redacted text finds nothing
    red_df = spark.createDataFrame([(r.red,) for r in out], "t string")
    left = pii_counts_exprs("t")
    agg = red_df.agg(
        F.sum(left["n_email"]).alias("e"), F.sum(left["n_ipv4"]).alias("p")
    ).first()
    assert (agg.e, agg.p) == (0, 0)


def test_snapshot_pruning_and_schema_evolution(spark, tmp_path):
    """Manifest min/max file skipping: a range predicate plans only the
    file sets whose recorded bounds intersect it, file sets without
    stats are conservatively kept, boundary-touching sets are kept, and
    the pruned read returns exactly the filtered rows. Add-column
    evolution: reads with the manifest's union schema back-fill NULL
    for pre-evolution files."""
    from pyspark.sql import functions as F

    from ip_filter_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(str(tmp_path / "tbl"))
    # three file sets with disjoint k ranges + one without stats
    t.append(spark.range(0, 10).withColumnRenamed("id", "k"), stats_cols=["k"])
    t.append(spark.range(10, 20).withColumnRenamed("id", "k"), stats_cols=["k"])
    t.append(spark.range(20, 30).withColumnRenamed("id", "k"), stats_cols=["k"])
    t.append(spark.range(100, 103).withColumnRenamed("id", "k"))  # no stats

    # middle range: set 2 matches; the stat-less set is kept conservatively
    kept, total = t.plan_pruned("k", 12, 15)
    assert total == 4 and len(kept) == 2
    df, planned, tot = t.read_pruned(spark, "k", 12, 15)
    assert (planned, tot) == (2, 4)
    assert sorted(r.k for r in df.collect()) == [12, 13, 14, 15]

    # boundary touch (hi == set 1's min) keeps set 1
    kept, _ = t.plan_pruned("k", 5, 10)
    assert len(kept) == 3  # sets 0, 1 + the stat-less one
    # fully outside every recorded range: only the stat-less survivor
    kept, _ = t.plan_pruned("k", 50, 60)
    assert len(kept) == 1

    # schema evolution: a later append adds a column; the manifest
    # schema back-fills NULL for the older files
    t2 = SnapshotTable(str(tmp_path / "tbl2"))
    t2.append(spark.range(0, 5).withColumnRenamed("id", "k"))
    t2.append(
        spark.range(5, 8).withColumnRenamed("id", "k").withColumn("q", F.col("k") * 2)
    )
    cur = t2.read(spark)
    assert set(cur.columns) == {"k", "q"}
    rows = {r.k: r.q for r in cur.collect()}
    assert len(rows) == 8
    assert all(rows[k] is None for k in range(5))
    assert all(rows[k] == 2 * k for k in range(5, 8))


def test_snapshot_bloom_point_skipping(spark, tmp_path):
    """Bloom manifest skipping: interleaved appends (overlapping
    [min, max]) where range stats keep everything, bloom planning keeps
    exactly the true file set; absent keys plan zero files and the
    zero-row read still carries the snapshot schema; bloom composes
    with min/max when both are recorded."""
    from pyspark.sql import functions as F

    from ip_filter_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(str(tmp_path / "tbl"))
    for i in range(4):
        t.append(
            spark.range(0, 40).withColumnRenamed("id", "k").where(F.col("k") % 4 == i),
            stats_cols=["k"],
            bloom_cols=["k"],
        )
    # range stats can't discriminate interleaved buckets...
    kept, total = t.plan_pruned("k", 13, 13)
    assert (len(kept), total) == (4, 4)
    # ...the bloom plans exactly the one true file set
    kept, total = t.plan_point("k", 13)
    assert (len(kept), total) == (1, 4)
    df, planned, tot = t.read_point(spark, "k", 13)
    assert (planned, tot) == (1, 4)
    assert [r.k for r in df.collect()] == [13]
    # absent key: zero files planned, zero-row scan with intact schema
    kept, _ = t.plan_point("k", 999)
    assert kept == []
    df, planned, _ = t.read_point(spark, "k", 999)
    assert planned == 0 and df.columns == ["k"] and df.count() == 0
    # min/max still composes: a value outside every range is pruned by
    # bounds alone even though blooms would have to be probed
    kept, _ = t.plan_point("k", -5)
    assert kept == []
    # string keys hash consistently too (Spark cast canonical form)
    t2 = SnapshotTable(str(tmp_path / "tbl2"))
    t2.append(
        spark.createDataFrame([("alpha",), ("beta",)], "name string"),
        bloom_cols=["name"],
    )
    t2.append(
        spark.createDataFrame([("gamma",), ("delta",)], "name string"),
        bloom_cols=["name"],
    )
    kept, total = t2.plan_point("name", "gamma")
    assert (len(kept), total) == (1, 2)
    df, planned, _ = t2.read_point(spark, "name", "gamma")
    assert planned == 1 and [r.name for r in df.collect()] == ["gamma"]


def test_snapshot_copy_on_write_upsert_and_delete(spark, tmp_path):
    """CoW MERGE/DELETE: only bloom-hit file sets are rewritten (the
    untouched file names carry over verbatim), updates replace rows by
    key, inserts land, deletes remove, and readers pinned to an older
    snapshot keep the pre-merge rows."""
    from pyspark.sql import functions as F

    from ip_filter_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(str(tmp_path / "tbl"))
    base = spark.range(0, 40).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    for i in range(4):
        t.append(base.where(F.col("k") % 4 == i), stats_cols=["k"], bloom_cols=["k"])
    files_before = set(t._read_manifest(4)["files"])

    # upsert keys 5 and 13 (both ≡ 1 mod 4 — ONE file set touched) + a new key 100
    updates = spark.createDataFrame([(5, -5), (13, -13), (100, -100)], "k long, v long")
    sid, rewritten, total = t.merge_upsert(spark, updates, "k")
    assert (rewritten, total) == (1, 4)
    files_after = set(t._read_manifest(sid)["files"])
    assert len(files_before & files_after) == 3  # 3 file sets untouched
    cur = {r.k: r.v for r in t.read(spark).collect()}
    assert len(cur) == 41
    assert (cur[5], cur[13], cur[100]) == (-5, -13, -100)
    assert cur[9] == 90  # same-bucket survivor intact
    # snapshot isolation: the pre-merge snapshot reads the old values
    old = {r.k: r.v for r in t.read(spark, sid=4).collect()}
    assert old[5] == 50 and 100 not in old and len(old) == 40

    # delete two keys in different buckets -> two file sets rewritten
    sid2, rewritten2, total2 = t.delete_keys(spark, "k", [100, 2])
    assert rewritten2 == 2 and total2 == len(files_after)
    cur2 = {r.k: r.v for r in t.read(spark).collect()}
    assert len(cur2) == 39 and 100 not in cur2 and 2 not in cur2
    assert cur2[5] == -5
    # absent-key delete touches nothing
    sid3, rewritten3, _ = t.delete_keys(spark, "k", [9999])
    assert rewritten3 == 0
    assert t.read(spark, sid=sid3).count() == 39


def test_snapshot_empty_batches_are_no_ops(spark, tmp_path):
    """Degenerate batches must not corrupt the table: an EMPTY delete /
    upsert batch touches zero files (an empty key list used to crash
    planning on min([])), and an all-rows-filtered append commits a
    snapshot whose manifest lists no unreadable fileset — later reads
    still plan every path successfully."""
    from pyspark.sql import functions as F

    from ip_filter_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(str(tmp_path / "tbl"))
    base = spark.range(0, 8).select(F.col("id").alias("k"), (F.col("id") * 10).alias("v"))
    t.append(base, stats_cols=["k"], bloom_cols=["k"])

    sid, rewritten, total = t.delete_keys(spark, "k", [])
    assert (rewritten, total) == (0, 1)
    assert t.read(spark, sid=sid).count() == 8

    sid2, rewritten2, _ = t.merge_upsert(spark, base.where(F.lit(False)), "k")
    assert rewritten2 == 0
    assert t.read(spark, sid=sid2).count() == 8

    sid3 = t.append(base.where(F.lit(False)))
    m = t._read_manifest(sid3)
    assert m["added_files"] == [] and len(m["files"]) == 1
    assert t.read(spark, sid=sid3).count() == 8
    assert t.incremental(spark, 0, sid3).count() == 8


def test_snapshot_expire_and_vacuum_lifecycle(spark, tmp_path):
    """Lifecycle GC laws: vacuum deletes NOTHING while any live manifest
    references a file set; after expire_snapshots only the head's files
    survive a vacuum; reads after vacuum are unchanged; time travel to
    expired snapshots is gone; keep_last < 1 raises."""
    import os

    import pytest as _pytest

    from ip_filter_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(str(tmp_path / "tbl"))
    t.append(spark.range(0, 10).withColumnRenamed("id", "k"))
    t.append(spark.range(10, 20).withColumnRenamed("id", "k"))
    t.delete_keys(spark, "k", [3, 13])  # rewrites both file sets into one survivor

    # every file set is still referenced by manifests 1-2 -> vacuum is a no-op
    pre = t.vacuum()
    assert pre["deleted"] == [] and len(pre["kept"]) == 3
    assert t.read(spark).count() == 18

    with _pytest.raises(ValueError):
        t.expire_snapshots(keep_last=0)
    assert t.expire_snapshots(keep_last=1) == [1, 2]
    assert t.snapshots() == [3]

    post = t.vacuum()
    assert len(post["deleted"]) == 2 and len(post["kept"]) == 1
    assert sorted(r.k for r in t.read(spark).collect()) == [
        k for k in range(20) if k not in (3, 13)
    ]
    # the reclaimed directories are really gone
    data = os.listdir(str(tmp_path / "tbl" / "data"))
    assert len(data) == 1


def test_lloyd_kmeans_recovers_planted_clusters(spark):
    """Lloyd laws on planted data: per-iteration inertia is monotone
    non-increasing, the final centroids sit on the planted means, and
    n_rows is exact."""
    import numpy as np

    from ip_filter_spark.operators.similarity import lloyd_kmeans

    rng = np.random.RandomState(7)
    centers = np.array([[0.0, 0.0], [10.0, 10.0], [-10.0, 10.0]])
    rows = []
    for i in range(300):
        c = i % 3
        v = centers[c] + rng.normal(0, 0.5, size=2)
        rows.append((i, [float(v[0]), float(v[1])]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    C, costs, n = lloyd_kmeans(df, "vec_id", "embedding", k=3, iters=5)
    assert n == 300
    assert all(costs[t + 1] <= costs[t] * (1 + 1e-9) for t in range(4)), costs
    assert costs[-1] < costs[0]
    # each planted center has a learned centroid within 3 sd of the mean
    for c in centers:
        assert min(np.linalg.norm(C - c, axis=1)) < 0.5, (C, c)


def test_bloom_cardinality_estimate_accuracy():
    """Swamidass-Baldi inversion: <1% error at low fill, a few % at
    design fill, +inf when saturated."""
    import numpy as np

    from ip_filter_spark.sketches.bloom import BloomFilter

    def build(n, expected, seed=0):
        bf = BloomFilter(fpp=1e-3, n=expected)
        rng = np.random.default_rng(seed)
        bf.insert_hashes(rng.integers(0, 2**64, size=n, dtype=np.uint64))
        return bf

    low = build(500, 100_000)  # fill << 1
    assert abs(low.cardinality_estimate() - 500) / 500 < 0.01
    design = build(100_000, 100_000)  # design fill (~0.5 of bits)
    assert abs(design.cardinality_estimate() - 100_000) / 100_000 < 0.03
    sat = build(100, 100_000)
    sat.bits[:] = 0xFF
    assert sat.cardinality_estimate() == float("inf")


def test_snapshot_mor_delete_read_paths_and_compaction(spark, tmp_path):
    """MoR laws: delete file writes rewrite ZERO data files; read,
    read_pruned and read_point all apply pending deletes; time travel
    to pre-delete snapshots does not; CoW ops refuse while deletes are
    pending; compaction folds deletes away and is a no-op when nothing
    is pending; vacuum reclaims stranded delete files after expiry."""
    import os

    import pytest as _pytest
    from pyspark.sql import functions as F

    from ip_filter_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(str(tmp_path / "tbl"))
    df = spark.range(0, 20).select(F.col("id").alias("k"), (F.col("id") * 10).alias("v"))
    t.append(df.where("k < 10"), stats_cols=["k"], bloom_cols=["k"])
    t.append(df.where("k >= 10"), stats_cols=["k"], bloom_cols=["k"])

    sid, n = t.delete_keys_mor(spark, "k", [3, 13])
    assert n == 2 and len(t._read_manifest(sid)["files"]) == 2  # zero rewrites
    assert sorted(r.k for r in t.read(spark).collect()) == [k for k in range(20) if k not in (3, 13)]
    assert t.read(spark, sid=2).count() == 20  # time travel: pre-delete rows intact

    pruned, _, _ = t.read_pruned(spark, "k", 0, 5)
    assert sorted(r.k for r in pruned.collect()) == [0, 1, 2, 4, 5]
    pt, planned, _ = t.read_point(spark, "k", 13)
    assert pt.count() == 0 and planned >= 1  # bloom plans the file, the delete hides the row

    with _pytest.raises(ValueError):
        t.merge_upsert(spark, df.where("k = 0"), "k")

    # second delete file on the same column composes
    t.delete_keys_mor(spark, "k", [7])
    assert t.read(spark).count() == 17

    csid, rewritten, total = t.compact_deletes(spark)
    assert rewritten == 2 and total == 2
    assert t._read_manifest(csid).get("delete_files") == []
    assert sorted(r.k for r in t.read(spark).collect()) == [
        k for k in range(20) if k not in (3, 7, 13)
    ]
    assert t.compact_deletes(spark) == (csid, 0, 1)  # no-op when nothing pending

    t.expire_snapshots(keep_last=1)
    rec = t.vacuum()
    assert sum(1 for p in rec["deleted"] if p.startswith("deletes/")) == 2
    assert sum(1 for p in rec["deleted"] if p.startswith("data/")) == 2
    assert t.read(spark).count() == 17


def test_python_datasource_splitmix_partitions_and_values(spark):
    """Python DataSource laws: the registered format plans the requested
    InputPartitions, the stream equals the numpy rehash kernel exactly,
    and uneven n/partitions splits lose no rows."""
    import numpy as np

    from ip_filter_spark.sketches.hashing import rehash
    from ip_filter_spark.sources.pyds import SplitmixDataSource

    try:
        spark.dataSource.register(SplitmixDataSource)
    except Exception:
        pass
    df = (
        spark.read.format("ifs_splitmix")
        .option("n", 1003).option("seed", 11).option("partitions", 7)
        .load()
    )
    assert df.rdd.getNumPartitions() == 7
    rows = df.collect()
    assert len(rows) == 1003
    got = {r.i: r.h for r in rows}
    want = rehash(np.arange(1003, dtype=np.uint64), 11).view(np.int64)
    assert all(got[i] == want[i] for i in range(1003))


def test_cell_radius_join_boundary_and_cross_cell(spark):
    """Hand-crafted semantics pins for the grid-cell spatial join:
    inclusive boundary (d == r kept), just-outside dropped, pairs that
    straddle a cell border still meet (the 3x3 replication), each
    unordered pair emitted exactly once."""
    from ip_filter_spark.operators.geo import cell_radius_join

    r = 10
    pts = spark.createDataFrame(
        [
            (1, 0, 0),    # cell (0,0)
            (2, 10, 0),   # cell (1,0); exactly r from 1 -> kept (inclusive)
            (3, 0, 11),   # cell (0,1); r+1 from 1 -> dropped
            (4, 9, 9),    # cell (0,0); near 2 and 3 across cell borders
            (5, 95, 95),  # isolated
        ],
        "id long, x long, y long",
    )
    got = {(row.a_id, row.b_id): row.d2 for row in cell_radius_join(pts, r).collect()}
    # (1,2) boundary d2=r^2; (2,4) d2=82 and (3,4) d2=85 cross cell borders;
    # (1,4) d2=162 > 100 dropped; 5 matches nothing.
    assert got == {(1, 2): 100, (2, 4): 82, (3, 4): 85}, got


def test_cell_radius_join_negative_coords_floor_cells(spark):
    """Points straddling the origin: cell ids must come from FLOOR
    division (truncate-toward-zero would put (-1,-1) and (1,1) in the
    same cell 0 and, worse, shift the 3x3 neighbourhood so true pairs
    could miss). Pins exact behavior on the signed quadrant."""
    from ip_filter_spark.operators.geo import cell_radius_join

    r = 10
    pts = spark.createDataFrame(
        [
            (1, -1, -1),   # cell (-1,-1)
            (2, 1, 1),     # cell (0,0); d2=8 from 1 -> kept across origin
            (3, -10, 0),   # cell (-1,0); d2=82 from 1 -> kept
            (4, -12, -5),  # cell (-2,-1); d2=137 from 1 -> dropped
        ],
        "id long, x long, y long",
    )
    got = {(row.a_id, row.b_id): row.d2 for row in cell_radius_join(pts, r).collect()}
    # (2,3) d2=122 and (1,4) d2=137 exceed r^2; (3,4) spans cells
    # (-1,0)/(-2,-1) and still meets via the neighbourhood replication.
    assert got == {(1, 2): 8, (1, 3): 82, (3, 4): 29}, got


def test_quadkey_expr_known_tiles(spark):
    """quadkey digit = 2*bit(y) + bit(x), most significant bit first."""
    from pyspark.sql import functions as F

    from ip_filter_spark.operators.geo import quadkey_expr

    pts = spark.createDataFrame(
        [(0, 0), (1, 0), (0, 1), (3, 3), (2, 1)], "x long, y long"
    )
    got = [r.qk for r in pts.select(quadkey_expr("x", "y", 2, 1).alias("qk")).collect()]
    # grid coords == raw coords (cell=1); level-2 key interleaves bits 1,0
    assert got == ["00", "01", "02", "33", "12"], got


def test_bpe_merge_replace_law_cross_engine(spark):
    """The BPE trainer's merge-application law: marker-bracketed
    single-pass REPLACE must (a) merge leftmost-first on symbol runs
    (<a><a><a> -> <aa><a>), (b) never false-match inside a multi-char
    symbol (<ya><b> untouched by the (a,b) merge), (c) merge every
    non-overlapping occurrence (<a><b><a><b> -> <ab><ab>) — and Spark
    and DuckDB must agree byte-for-byte on all of it."""
    import duckdb

    from pyspark.sql import functions as F

    cases = ["<a><a><a>", "<ya><b>", "<a><b><a><b>", "<a><b>", "<b><a>", "<aa><a><a>"]
    pat, rep = "<a><b>", "<ab>"
    pat2, rep2 = "<a><a>", "<aa>"
    df = spark.createDataFrame([(c,) for c in cases], "seq string")
    got_ab = [
        r.out
        for r in df.select(F.replace(F.col("seq"), F.lit(pat), F.lit(rep)).alias("out")).collect()
    ]
    got_aa = [
        r.out
        for r in df.select(F.replace(F.col("seq"), F.lit(pat2), F.lit(rep2)).alias("out")).collect()
    ]
    con = duckdb.connect()
    duck_ab = [con.execute("SELECT REPLACE(?, ?, ?)", [c, pat, rep]).fetchone()[0] for c in cases]
    duck_aa = [con.execute("SELECT REPLACE(?, ?, ?)", [c, pat2, rep2]).fetchone()[0] for c in cases]
    assert got_ab == duck_ab, (got_ab, duck_ab)
    assert got_aa == duck_aa, (got_aa, duck_aa)
    assert got_aa[0] == "<aa><a>", got_aa[0]  # leftmost-first on runs
    assert got_ab[1] == "<ya><b>", got_ab[1]  # boundary-safe
    assert got_ab[2] == "<ab><ab>", got_ab[2]  # all non-overlapping occurrences


def test_bpe_numpy_merge_equals_replace_law():
    """The batched trainer's numpy kernel (operators/bpe.py) must agree
    with the sequential trainer's marker-bracketed REPLACE on every
    tricky shape: symbol runs (leftmost-first), multi-char boundary
    safety, multiple words, cross-word isolation, repeated merges."""
    import numpy as np

    from ip_filter_spark.operators.bpe import merge_pairs_flat

    def via_replace(words, a, b):
        out = []
        for w in words:
            s = "".join(f"<{x}>" for x in w)
            s = s.replace(f"<{a}><{b}>", f"<{a}{b}>")  # str.replace == SQL REPLACE (leftmost, non-overlap)
            out.append([t[1:-1] for t in s.replace("><", ">|<").split("|")])
        return out

    def via_numpy(words, a, b):
        vocab = {}
        flat = np.array(
            [vocab.setdefault(s, len(vocab)) for w in words for s in w], dtype=np.int32
        )
        bounds = np.concatenate(([0], np.cumsum([len(w) for w in words]))).astype(np.int64)
        for s in (a, b, a + b):
            vocab.setdefault(s, len(vocab))
        f2, b2 = merge_pairs_flat(flat, bounds, vocab[a], vocab[b], vocab[a + b])
        inv = list(vocab)
        return [[inv[t] for t in f2[b2[i] : b2[i + 1]]] for i in range(len(words))]

    cases = [
        ([["a", "a", "a"]], "a", "a"),            # run: leftmost-first
        ([["a", "a", "a", "a"]], "a", "a"),       # even run
        ([["ya", "b"]], "a", "b"),                # multi-char boundary safety
        ([["a", "b", "a", "b"]], "a", "b"),       # all non-overlapping occurrences
        ([["b", "a"]], "a", "b"),                 # no match
        ([["aa", "a", "a"]], "a", "a"),           # merged symbol adjacent to raw run
        ([["a"], ["b", "a", "b"]], "a", "b"),     # cross-word isolation
        ([["x", "a", "b", "y"], ["a", "b"]], "a", "b"),
    ]
    for words, a, b in cases:
        assert via_numpy(words, a, b) == via_replace(words, a, b), (words, a, b)


def test_bpe_batched_equals_sequential_k16(spark):
    """The batched trainer's K=16 merge schedule (8 merges/round from one
    pair-count snapshot, exactness-safe greedy) must equal the
    one-job-per-merge sequential trainer's, pair counts included."""
    from ip_filter_spark.operators.bpe import bpe_train_batched
    from ip_filter_spark.queries.text import _bpe_learn, _bpe_words

    sf_dir = "/root/testdata/sf0.001"
    seq = _bpe_learn(spark, sf_dir, k=16)
    bat = bpe_train_batched(_bpe_words(spark, sf_dir), k=16, batch=8)
    assert bat == seq, (bat[:4], seq[:4])


def test_bpe_encode_matches_training_fold(spark):
    """bpe_encode's greedy lowest-rank-first inference must reproduce the
    training-time fold exactly (apply merges in learned order)."""
    from ip_filter_spark.operators.bpe import bpe_encode, bpe_train_batched

    words = spark.createDataFrame(
        [("abab", 5), ("aaab", 3), ("banana", 2), ("b", 1), ("abc", 4)], "w string, wc long"
    )
    merges = bpe_train_batched(words, k=4, batch=2)
    rules = [(a, b) for _, a, b, _, _ in merges]

    def fold(w):
        syms = list(w)
        for a, b in rules:  # training order
            out, j = [], 0
            while j < len(syms):
                if j < len(syms) - 1 and syms[j] == a and syms[j + 1] == b:
                    out.append(a + b)
                    j += 2
                else:
                    out.append(syms[j])
                    j += 1
            syms = out
        return syms

    got = {r.w: list(r.syms) for r in bpe_encode(words, rules).collect()}
    for w in ["abab", "aaab", "banana", "b", "abc"]:
        assert got[w] == fold(w), (w, got[w], fold(w))


def test_snapshot_dataframe_valued_deletes(spark, tmp_path):
    """GDPR-scale delete batches: delete_keys / delete_keys_mor /
    merge_upsert accept a keys DataFrame and plan via the executor-side
    manifest probe — the doomed keys never reach the driver (no
    collect() in the plan; asserted by counting collect-driving RDD jobs
    is impractical here, so instead the batch is built lazily from the
    corpus and the results are verified exact)."""
    from pyspark.sql import functions as F

    from ip_filter_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(str(tmp_path / "tbl"))
    docs = spark.range(0, 1000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7).alias("grp")
    )
    # three file sets so planning has something to exclude
    for lo, hi in ((0, 400), (400, 800), (800, 1000)):
        t.append(
            docs.where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)),
            stats_cols=["doc_id"],
            bloom_cols=["doc_id"],
        )
    # bounds-based exclusion through the distributed probe: delete only
    # low keys first (while the table still has 3 disjoint file sets) —
    # the high file sets must NOT be rewritten
    low = spark.range(0, 5).select(F.col("id").alias("doc_id"))
    sid1, rewritten1, total1 = t.delete_keys(spark, "doc_id", low)
    assert total1 == 3 and rewritten1 == 1  # only the [0, 400) file set
    assert t.read(spark).count() == 995

    # a 10% batch DERIVED from the table itself — never collected
    doomed = t.read(spark).where(F.col("doc_id") % 10 == 3).select("doc_id")
    n_doomed3 = 100 - 1  # 3 already deleted above
    sid2, rewritten2, total2 = t.delete_keys(spark, "doc_id", doomed)
    remaining = t.read(spark)
    assert remaining.count() == 995 - n_doomed3
    assert remaining.where(F.col("doc_id") % 10 == 3).count() == 0

    # MoR DataFrame batch: zero rewrites, anti-join at read time
    doomed2 = t.read(spark).where(F.col("doc_id") % 10 == 4).select("doc_id")
    n_before = t.read(spark).count()
    n_doomed = t.read(spark).where(F.col("doc_id") % 10 == 4).count()
    sid3, n_keys = t.delete_keys_mor(spark, "doc_id", doomed2)
    assert n_keys == n_doomed
    assert t.read(spark).count() == n_before - n_doomed
    # pinned older snapshot still sees the rows
    assert t.read(spark, sid2).where(F.col("doc_id") % 10 == 4).count() == n_doomed

    # merge_upsert (planned executor-side, like every CoW op)
    t.compact_deletes(spark)
    ups = t.read(spark).where(F.col("doc_id") % 100 == 7).withColumn("grp", F.lit(99).cast("long"))
    t.merge_upsert(spark, ups, "doc_id")
    got = t.read(spark)
    assert got.where((F.col("doc_id") % 100 == 7) & (F.col("grp") != 99)).count() == 0


def test_snapshot_delete_double_keys_bloom_rendering(spark, tmp_path):
    """ADVICE r5: bloom probe digests must reproduce the BUILD-side
    Spark CAST(col AS STRING) rendering. Double keys render differently
    in Python str() (e.g. 1e10 -> '10000000000.0') than in Spark
    ('1.0E10'), which previously made the distributed planner's bloom
    report a false MISS and silently retain doomed rows. Both the
    DataFrame and the list path now plan executor-side with digests
    computed JVM-side, so list keys prune by bloom too."""
    from pyspark.sql import functions as F

    from ip_filter_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(str(tmp_path / "dbl"))
    rows = spark.range(0, 100).select(
        (F.col("id").cast("double") * 1e9).alias("k"), F.col("id").alias("v")
    )
    t.append(rows, stats_cols=["k"], bloom_cols=["k"])

    # DataFrame-valued delete of keys whose Python rendering diverges
    doomed = spark.range(10, 13).select((F.col("id").cast("double") * 1e9).alias("k"))
    sid, rewritten, total = t.delete_keys(spark, "k", doomed)
    assert rewritten == 1, (rewritten, total)
    got = t.read(spark)
    assert got.count() == 97
    assert got.where(F.col("k").isin([1.0e10, 1.1e10, 1.2e10])).count() == 0

    # driver-list path with float keys: bloom pruning must not create
    # false negatives either
    sid2, rewritten2, _ = t.delete_keys(spark, "k", [1.3e10, 1.4e10])
    got2 = t.read(spark)
    assert got2.count() == 95
    assert got2.where(F.col("k").isin([1.3e10, 1.4e10])).count() == 0


def test_minband_prefilter_matches_jvm_tail(spark, docs):
    """r6 min-band candidate prefilter (threshold high enough that
    min_bands >= 2): the kernel tail with collision counting + capped-id
    escape must emit EXACTLY the pairs of the reference JVM tail (the
    pre-r6 collect_list semantics), including under an aggressive bucket
    cap that forces over-cap buckets and low thresholds where the
    prefilter is bypassed."""
    from ip_filter_spark.operators.dedup import _banded_pairs, _banded_pairs_jvm, minhash_signatures

    sample = docs.limit(120).selectExpr("doc_id as id", "text")
    sig = minhash_signatures(sample, "id", "text", num_perm=64, shingle_n=3).cache()
    for threshold, max_bucket in [(0.8, 2), (0.8, 200), (0.9, 3), (0.7, 2)]:
        kern = {
            (r.id_a, r.id_b): r.est_jaccard
            for r in _banded_pairs(sig, 64, 16, threshold, max_bucket).collect()
        }
        jvm = {
            (r.id_a, r.id_b): r.est_jaccard
            for r in _banded_pairs_jvm(sig, 64, 16, threshold, max_bucket).collect()
        }
        assert kern == jvm, (threshold, max_bucket, len(kern), len(jvm))
    sig.unpersist()


def test_minband_prefilter_keeps_rounding_boundary_pair(spark):
    """The min-band slack covers the ROUND(agree/n, 6) window (n·5e-7),
    not just float error: two 256-component signatures differing in 2
    components, in different bands of 128, have agree/n = 0.9921875,
    which ROUND(·, 6) lifts to the threshold 0.992188 — the verify keeps
    that pair, so the prefilter must not drop it (it needs 126 band
    collisions; a fixed 1e-4 slack demanded 127)."""
    from ip_filter_spark.operators.dedup import _banded_pairs, _banded_pairs_jvm

    a = list(range(1, 257))
    b = list(a)
    b[0], b[2] = 10_001, 10_003  # components 0 and 2: bands 0 and 1
    sig = spark.createDataFrame([(1, a), (2, b)], "id long, sig array<int>")
    got = [tuple(r) for r in _banded_pairs(sig, 256, 128, 0.992188, 200).collect()]
    assert got == [(1, 2, 0.992188)], got
    assert [tuple(r) for r in _banded_pairs_jvm(sig, 256, 128, 0.992188, 200).collect()] == got


def test_exact_quantiles_histogram_refinement_paths(spark, monkeypatch):
    """Force the r6 histogram-selection refinement (tiny cap) and the
    deep-refinement fallback (depth 0): both must return the identical
    rank-based quantiles, including under heavy duplication where a
    single value owns a whole bucket."""
    import ip_filter_spark.operators.quantiles as q

    vals = [float(i) for i in range(1000)] + [500.0] * 5000 + [1e12, -1e12]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    qs = [0.01, 0.25, 0.5, 0.9, 0.99]
    import numpy as np

    arr = np.sort(np.array(vals))
    expect = {float(x): float(arr[int((len(arr) - 1) * x)]) for x in qs}
    base = {r.q: r.value for r in q.exact_quantiles(df, "v", qs).collect()}
    assert base == expect
    monkeypatch.setattr(q, "_HIST_CAP", 16)  # every target bucket refines
    refined = {r.q: r.value for r in q.exact_quantiles(df, "v", qs).collect()}
    assert refined == expect
    monkeypatch.setattr(q, "_HIST_MAX_DEPTH", 0)  # straight to the old path
    fallback = {r.q: r.value for r in q.exact_quantiles(df, "v", qs).collect()}
    assert fallback == expect
