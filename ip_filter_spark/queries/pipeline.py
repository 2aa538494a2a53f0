"""Training-data pipeline gates: dedup families (MinHash/SimHash/LSH/edit-distance), splits and sampling, curation, packing, decontamination.

Split out of the former monolithic queries.py; see package __init__ for
the assembled QUERIES/ORACLES registry (order preserved exactly).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ip_filter_spark.functions.text import ngrams_expr, token_count_expr, tokens_expr
from ip_filter_spark.lifetime import pinned
from ip_filter_spark.queries._shared import (
    _t,
    _dec_sum,
    _SQL_TOKENS,
    _sql_shingles,
    _ensure_shipped,
)

def hash_sample_docs(spark, sf_dir):
    """Deterministic content-hash sampling — the reproducible-subset
    primitive a training pipeline needs (the same ~10% of documents
    selected on every run, every engine, any partitioning): keep rows
    whose sha256(text) starts below a hex threshold. Pure JVM
    expressions, filter runs at the scan."""
    d = _t(spark, sf_dir, "documents")
    bucket = F.substring(F.sha2(F.col("text"), 256), 1, 2)
    return (
        d.where(bucket < "1a")
        .select("doc_id", "lang", bucket.alias("bucket"), F.length("text").alias("n_chars"))
    )


HASH_SAMPLE_SQL = """
SELECT doc_id, lang, substr(sha256(text), 1, 2) AS bucket,
       CAST(LENGTH(text) AS INT) AS n_chars
FROM documents WHERE substr(sha256(text), 1, 2) < '1a'
"""


# =====================================================================
# Documents: hashing invariant, dedup, text analysis
# =====================================================================
def sha256_distinct_exact(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.agg(
        F.countDistinct(F.sha2("text", 256)).alias("n_distinct_sha"),
        F.count("*").alias("n_docs"),
    )


SHA_DISTINCT_SQL = "SELECT COUNT(DISTINCT sha256(text)) AS n_distinct_sha, COUNT(*) AS n_docs FROM documents"


def dup_groups_exact(spark, sf_dir):
    from ip_filter_spark.operators.dedup import exact_dup_groups

    return exact_dup_groups(_t(spark, sf_dir, "documents"), "text", "doc_id")


DUP_GROUPS_SQL = """
SELECT sha256(text) AS content_sha256, COUNT(*) AS dup_count, MIN(doc_id) AS min_id
FROM documents GROUP BY 1 HAVING COUNT(*) > 1
"""


def curation_pipeline_docs(spark, sf_dir):
    """End-to-end training-data curation composed as ONE declarative plan:
    per-doc featurize (chars, whitespace tokens, normalized-content sha)
    -> quality filter (length + token floors) -> exact dedup on the
    normalized sha (keep the lowest doc_id; quality docs outrank filtered
    ones inside a group so a surviving group always keeps a quality doc)
    -> per-language corpus stats. Two shuffles total at any scale: the
    dedup window partitions by norm_sha, the final rollup by lang; the
    featurize stage is pure JVM expressions fused into the scan.

    The whole pipeline is replicated in DuckDB SQL, so the gate checks
    the composition — filter interacting with dedup interacting with the
    rollup — not just each stage alone."""
    d = _t(spark, sf_dir, "documents")
    norm = F.regexp_replace(
        F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""), " +", " "
    )
    feats = d.select(
        "doc_id",
        "lang",
        F.length("text").alias("chars"),
        token_count_expr("text").alias("tokens"),
        F.sha2(norm, 256).alias("norm_sha"),
    ).withColumn(
        "q", (F.col("chars") >= 100) & (F.col("tokens") >= 20)
    )
    w = Window.partitionBy("norm_sha").orderBy(F.col("q").desc(), F.col("doc_id"))
    ranked = feats.withColumn("rn", F.row_number().over(w))
    keep = F.col("q") & (F.col("rn") == 1)
    ki = F.when(keep, 1).otherwise(0)
    g = ranked.groupBy("lang").agg(
        F.count("*").alias("n_docs_in"),
        F.sum(F.col("q").cast("int")).alias("n_quality"),
        F.sum(ki).alias("n_kept"),
        F.sum(ki * F.col("tokens")).alias("total_tokens"),
        F.sum(ki * F.col("chars")).alias("total_chars"),
    )
    return g.select(
        "lang",
        "n_docs_in",
        "n_quality",
        "n_kept",
        "total_tokens",
        "total_chars",
        F.round(F.col("total_tokens") / F.col("n_kept").cast("double"), 6).alias("mean_tokens"),
    )


CURATION_SQL = f"""
WITH feats AS (
  SELECT doc_id, lang, length(text) AS chars,
         len({_SQL_TOKENS}) AS tokens,
         sha256(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS norm_sha,
         (length(text) >= 100 AND len({_SQL_TOKENS}) >= 20) AS q
  FROM documents),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY norm_sha ORDER BY q DESC, doc_id) AS rn
  FROM feats)
SELECT lang,
       COUNT(*) AS n_docs_in,
       CAST(SUM(CASE WHEN q THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
       CAST(SUM(CASE WHEN q AND rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN q AND rn = 1 THEN tokens ELSE 0 END) AS BIGINT) AS total_tokens,
       CAST(SUM(CASE WHEN q AND rn = 1 THEN chars ELSE 0 END) AS BIGINT) AS total_chars,
       ROUND(SUM(CASE WHEN q AND rn = 1 THEN tokens ELSE 0 END)
             / CAST(SUM(CASE WHEN q AND rn = 1 THEN 1 ELSE 0 END) AS DOUBLE), 6) AS mean_tokens
FROM ranked GROUP BY lang
"""


# =====================================================================
# Text dedup tiers
# =====================================================================
def ngram_jaccard_docs(spark, sf_dir):
    from ip_filter_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), "doc_id", "text", shingle_n=3, threshold=0.05)


NGRAM_JACCARD_SQL = f"""
WITH sh AS (
  SELECT DISTINCT doc_id AS id, unnest(list_distinct(
    CASE WHEN len({_SQL_TOKENS}) >= 3
         THEN list_transform(range(1, len({_SQL_TOKENS}) - 1),
              i -> array_to_string(list_slice({_SQL_TOKENS}, i, i + 2), ' '))
         ELSE [array_to_string({_SQL_TOKENS}, ' ')] END)) AS sh
  FROM documents),
sizes AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS i
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
  GROUP BY a.id, b.id)
SELECT id_a, id_b, ROUND(i / CAST(sa.sz + sb.sz - i AS DOUBLE), 6) AS jaccard
FROM inter JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
WHERE ROUND(i / CAST(sa.sz + sb.sz - i AS DOUBLE), 6) >= 0.05
"""


def minhash_lsh_sql(
    num_perm: int = 128,
    bands: int = 32,
    threshold: float = 0.5,
    shingle_n: int = 3,
    max_bucket: int = 200,
    seed: int = 11,
) -> str:
    """Full DuckDB replica of minhash_lsh_pairs(hash_fn='sha'): same
    shingles, same sha-derived base hash, same affine family coefficients
    (embedded as literals), same polynomial band keys, same bucket
    pruning/cap, same agreement-fraction estimate. The oracle checks the
    ALGORITHM, not just plausibility of its output."""
    from ip_filter_spark.operators.dedup import _BAND_K, MINHASH_P, minhash_coeffs

    a_c, b_c = minhash_coeffs(num_perm, seed)
    r = num_perm // bands
    P = MINHASH_P
    sig_cols = ",\n       ".join(f"MIN((h * {a_c[p]} + {b_c[p]}) % {P}) AS s{p}" for p in range(num_perm))

    def key_expr(b: int) -> str:
        acc = str(b + 1)
        for j in range(r):
            acc = f"(({acc}) * {_BAND_K} + s{b * r + j}) % {P}"
        return acc

    banded = "\n  UNION ALL\n".join(f"  SELECT id, {b} AS band, {key_expr(b)} AS key FROM sig" for b in range(bands))
    sig_list = ", ".join(f"s{p}" for p in range(num_perm))
    # a flat num_perm-term "+" chain trips DuckDB's 128-deep binder
    # recursion limit; list_transform over a signature LIST does not
    return f"""
WITH shg AS (
  SELECT DISTINCT doc_id AS id, unnest({_sql_shingles(shingle_n)}) AS sh FROM documents),
h AS (SELECT id, CAST('0x' || substr(sha256(sh), 1, 15) AS BIGINT) % {P} AS h FROM shg),
sig AS (SELECT id,
       {sig_cols}
FROM h GROUP BY id),
sigl AS (SELECT id, [{sig_list}] AS sl FROM sig),
banded AS (
{banded}),
ok AS (SELECT band, key FROM banded GROUP BY band, key
       HAVING COUNT(*) >= 2 AND COUNT(*) <= {max_bucket}),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM banded a JOIN ok USING (band, key)
  JOIN banded b ON a.band = b.band AND a.key = b.key AND a.id < b.id),
est AS (
  SELECT id_a, id_b,
         ROUND(list_sum(list_transform(range(1, {num_perm + 1}),
               i -> CASE WHEN sa.sl[i] = sb.sl[i] THEN 1 ELSE 0 END)) / {float(num_perm)}, 6) AS est_jaccard
  FROM cand JOIN sigl sa ON sa.id = cand.id_a JOIN sigl sb ON sb.id = cand.id_b)
SELECT id_a, id_b, est_jaccard FROM est WHERE est_jaccard >= {threshold}
"""


def simhash_sql(max_hamming: int = 3) -> str:
    """DuckDB replica of simhash_pairs(hash_fn='sha') — but formulated
    ALL-PAIRS, so a hash-match additionally proves the Spark side's
    4-chunk pigeonhole blocking is lossless at hamming <= 3."""
    from ip_filter_spark.operators.dedup import SIMHASH_BITS

    nbits = SIMHASH_BITS["sha"]
    votes = ",\n       ".join(
        f"SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS v{j}" for j in range(nbits)
    )
    sim = " + ".join(f"(CASE WHEN v{j} > 0 THEN CAST({1 << j} AS BIGINT) ELSE 0 END)" for j in range(nbits))
    return f"""
WITH tok AS (
  SELECT doc_id AS id, unnest({_SQL_TOKENS}) AS t FROM documents),
h AS (SELECT id, CAST('0x' || substr(sha256(t), 1, 15) AS BIGINT) AS h FROM tok),
votes AS (SELECT id,
       {votes}
FROM h GROUP BY id),
sig AS (SELECT id, {sim} AS sim FROM votes)
SELECT a.id AS id_a, b.id AS id_b,
       CAST(bit_count(xor(a.sim, b.sim)) AS INTEGER) AS hamming
FROM sig a JOIN sig b ON a.id < b.id
WHERE bit_count(xor(a.sim, b.sim)) <= {max_hamming}
"""


def minhash_pairs_docs(spark, sf_dir):
    from ip_filter_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), "doc_id", "text", num_perm=128, bands=32, threshold=0.5, hash_fn="sha"
    )


def simhash_pairs_docs(spark, sf_dir):
    from ip_filter_spark.operators.dedup import simhash_pairs

    return simhash_pairs(_t(spark, sf_dir, "documents"), "doc_id", "text", max_hamming=3, hash_fn="sha")


def dedup_components_docs(spark, sf_dir):
    """Near-dup pairs → dedup CLUSTERS: connected components over the
    simhash pair graph by distributed min-label propagation (a curation
    pipeline keeps one representative per component, not per pair). The
    oracle recomputes the same components as a recursive-CTE transitive
    closure over the identical (all-pairs-verified) simhash edge SQL —
    so a hash match proves both the pair generation AND the clustering."""
    _ensure_shipped(spark)
    from ip_filter_spark.operators.dedup import connected_components, simhash_pairs

    pairs = simhash_pairs(
        _t(spark, sf_dir, "documents"), "doc_id", "text", max_hamming=3, hash_fn="sha"
    )
    cc = connected_components(pairs, "id_a", "id_b")
    return cc.groupBy("component").agg(F.count("*").alias("size"))


def curation_near_dup_docs(spark, sf_dir):
    """The near-dup curation composition: simhash pairs → connected
    components → keep ONE representative (min doc_id) per cluster →
    per-lang corpus stats of the kept set. The drop-list (non-
    representative members) is bounded by the pair count — a small
    fraction of the corpus by construction — so it broadcasts into a
    left-anti join; the corpus is never shuffled. Oracle replicates the
    entire composition: all-pairs edges, recursive-CTE components,
    NOT-IN keep-list, rollup."""
    _ensure_shipped(spark)
    from ip_filter_spark.operators.dedup import connected_components, simhash_pairs

    d = _t(spark, sf_dir, "documents")
    pairs = simhash_pairs(d, "doc_id", "text", max_hamming=3, hash_fn="sha")
    cc = connected_components(pairs, "id_a", "id_b")
    drop = cc.where(F.col("node") != F.col("component")).select(F.col("node").alias("doc_id"))
    kept = d.join(F.broadcast(drop), "doc_id", "left_anti")
    return kept.groupBy("lang").agg(
        F.count("*").alias("n_kept"),
        F.sum(token_count_expr("text")).alias("total_tokens"),
    )


def curation_near_dup_sql() -> str:
    return f"""
WITH RECURSIVE pairs AS ({simhash_sql(max_hamming=3)}),
edges AS (SELECT id_a AS a, id_b AS b FROM pairs
          UNION ALL SELECT id_b, id_a FROM pairs),
nodes AS (SELECT DISTINCT a AS node FROM edges),
reach(src, nd) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.nd = e.a
),
lab AS (SELECT src AS node, MIN(nd) AS component FROM reach GROUP BY src),
dropped AS (SELECT node FROM lab WHERE node <> component)
SELECT lang, COUNT(*) AS n_kept,
       CAST(SUM(len({_SQL_TOKENS})) AS BIGINT) AS total_tokens
FROM documents WHERE doc_id NOT IN (SELECT node FROM dropped)
GROUP BY lang
"""


def dedup_components_sql() -> str:
    return f"""
WITH RECURSIVE pairs AS ({simhash_sql(max_hamming=3)}),
edges AS (SELECT id_a AS a, id_b AS b FROM pairs
          UNION ALL SELECT id_b, id_a FROM pairs),
nodes AS (SELECT DISTINCT a AS node FROM edges),
reach(src, nd) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.nd = e.a
),
lab AS (SELECT src AS node, MIN(nd) AS component FROM reach GROUP BY src)
SELECT component, COUNT(*) AS size FROM lab GROUP BY component
"""


def minhash_corpus_signature(spark, sf_dir):
    """Corpus-level MinHash: the merge algebra must be partitioning-
    invariant — building over 4 partitions and over 13 partitions must
    produce byte-identical component minima and the exact item count."""
    _ensure_shipped(spark)
    from ip_filter_spark.engine import SketchSpec, build_and_merge

    d = _t(spark, sf_dir, "documents")
    spec = SketchSpec("minhash", {"num_perm": 64})
    mh_a = build_and_merge(d, [spec], key="text", num_partitions=4)[spec.key()]
    mh_b = build_and_merge(d, [spec], key="text", num_partitions=13)[spec.key()]
    invariant = bool((mh_a.mins == mh_b.mins).all()) and mh_a.n_items == mh_b.n_items
    return spark.createDataFrame(
        [(64, int(mh_a.n_items), bool(invariant))],
        "num_perm int, n_items long, partition_invariant boolean",
    )


MINHASH_CORPUS_SQL = "SELECT CAST(64 AS INTEGER) AS num_perm, COUNT(*) AS n_items, TRUE AS partition_invariant FROM documents"


# =====================================================================
# Sampling (the reference's traffic-synthesis generators)
# =====================================================================
def reservoir_sample_events(spark, sf_dir):
    """Weighted reservoir sampling (Efraimidis–Spirakis A-Res,
    sources/sampling.py) under the driver gate — the reference's
    by-share reservoir traffic generator
    (/root/reference/data/generate_traffic.py:54-84) as a fixed-size
    weighted draw over events.

    Gate form: the sample itself is deterministic (u is hash-derived,
    not rand()) but not ANSI-SQL-replicable (DuckDB has no xxhash64), so
    the oracle checks the SQL-expressible facts plus
    provable-by-construction booleans computed in Spark:
      - k_returned = LEAST(k, n_events) — real data dependence, both
        engines compute it from the table;
      - sampled_ids_distinct / all_ids_from_domain — sample is a
        subset-without-replacement of events (anti-join count == 0);
      - keys_are_k_smallest — the A-Res invariant: the largest key in
        the sample <= the k-th smallest key over the whole table
        (recomputed independently from the same hash expression);
      - weights_all_positive — the precondition w > 0 holds for the
        chosen weight column."""
    from ip_filter_spark.sources.sampling import weighted_reservoir_sample

    k, seed = 500, 42
    ev = _t(spark, sf_dir, "events")
    weighted = ev.withColumn("__w", F.abs(F.col("value")) + F.lit(1.0))
    with pinned() as pin:
        sample = weighted_reservoir_sample(weighted, "__w", k=k, seed=seed, id_cols=["event_id"])
        sample = pin(sample.select("event_id", F.col("__w").alias("w")))
        n_ret = sample.count()
        n_events = ev.count()
        distinct_ok = sample.select("event_id").distinct().count() == n_ret
        from_domain = sample.join(ev, "event_id", "left_anti").count() == 0
        # recompute the A-Res key independently and take the k-th smallest
        u = (F.abs(F.xxhash64(F.col("event_id"), F.lit(seed))) + 1).cast("double") / F.lit(float(1 << 63))
        keyed = ev.select((-F.log(u) / (F.abs(F.col("value")) + F.lit(1.0))).alias("key"))
        kth = keyed.orderBy("key").limit(k).agg(F.max("key").alias("m")).first().m
        max_sample_key = sample.select((-F.log(u) / F.col("w")).alias("key")).agg(F.max("key")).first()[0]
        weights_pos = sample.where(F.col("w") <= 0).count() == 0
    return spark.createDataFrame(
        [
            (
                int(n_ret),
                bool(distinct_ok),
                bool(from_domain),
                bool(max_sample_key <= kth),
                bool(weights_pos),
            )
        ],
        "k_returned long, sampled_ids_distinct boolean, all_ids_from_domain boolean, "
        "keys_are_k_smallest boolean, weights_all_positive boolean",
    )


RESERVOIR_SQL = """
SELECT CAST(LEAST(500, COUNT(*)) AS BIGINT) AS k_returned,
       TRUE AS sampled_ids_distinct, TRUE AS all_ids_from_domain,
       TRUE AS keys_are_k_smallest, TRUE AS weights_all_positive
FROM events
"""


def stratified_split_docs(spark, sf_dir):
    """Deterministic train/valid/test split for a training corpus:
    assignment is a pure function of the stable document identity
    (first hex byte of sha256(doc_id): < 'cc' → train ≈ 79.7%,
    < 'e6' → valid ≈ 10.2%, else test), NOT of row order, partition
    count, or a seed — so the split is reproducible across reruns,
    engines, and cluster sizes, and new documents never reshuffle old
    ones between splits (the property rand()-based splits lack). The
    gate reports per-(lang, split) doc and token counts, full-value
    checked against DuckDB computing the same hash rule."""
    d = _t(spark, sf_dir, "documents")
    b = F.substring(F.sha2(F.col("doc_id").cast("string"), 256), 1, 2)
    split = (
        F.when(b < "cc", "train").when(b < "e6", "valid").otherwise("test")
    )
    return (
        d.withColumn("split", split)
        .groupBy("lang", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(token_count_expr("text")).alias("total_tokens"),
        )
    )


STRATIFIED_SPLIT_SQL = f"""
SELECT lang,
       CASE WHEN substr(sha256(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
            WHEN substr(sha256(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'valid'
            ELSE 'test' END AS split,
       COUNT(*) AS n_docs,
       CAST(SUM(len({_SQL_TOKENS})) AS BIGINT) AS total_tokens
FROM documents
GROUP BY lang, split
"""


_SHARD_BUDGET = 25_000  # tokens per training shard


def shard_pack_docs(spark, sf_dir):
    """Token-budget shard packing — the write-side primitive of a
    training-data pipeline: documents in stable doc_id order are packed
    into contiguous shards of ~25k tokens (shard id = floor(global
    token offset / budget)). The global running token count uses
    operators.aggregates.distributed_prefix_sum — boundary-literal
    bucketing + per-bucket windows — NOT a single-partition global
    window, so packing parallelizes at 100 TB. Oracle is the plain SQL
    window cumsum; identical because the prefix sum is exact and the
    order key unique."""
    from ip_filter_spark.operators.aggregates import distributed_prefix_sum

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", token_count_expr("text").cast("long").alias("toks")
    )
    c = distributed_prefix_sum(d, "doc_id", "toks", out_col="cum", num_buckets=32)
    shard = F.floor((F.col("cum") - F.col("toks")) / F.lit(_SHARD_BUDGET))
    return (
        c.groupBy(shard.cast("long").alias("shard_id"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("toks").alias("shard_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


SHARD_PACK_SQL = f"""
WITH t AS (
  SELECT doc_id, CAST(len({_SQL_TOKENS}) AS BIGINT) AS toks FROM documents
), c AS (
  SELECT doc_id, toks,
         SUM(toks) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM t
)
SELECT CAST(FLOOR((cum - toks) / {_SHARD_BUDGET}) AS BIGINT) AS shard_id,
       COUNT(*) AS n_docs,
       CAST(SUM(toks) AS BIGINT) AS shard_tokens,
       MIN(doc_id) AS first_doc,
       MAX(doc_id) AS last_doc
FROM c
GROUP BY shard_id
"""


def skew_split_join_events(spark, sf_dir):
    """Sketch-GUIDED skew join under the gate: ``joins.skew_split_join``
    detects heavy user_ids with a one-pass Misra–Gries summary
    (O(P · capacity) traffic, no groupBy shuffle), routes hot rows
    through a broadcast join of the dim's hot slice (the skewed mass
    never shuffles) and the tail through the ordinary shuffle join. The
    split is a partition of the fact table, so the union is row-for-row
    the plain join for ANY detected set — MG error can affect routing
    only — which is why the oracle is ordinary SQL. The inline plan
    assert pins both legs: a BroadcastHashJoin (hot) AND a non-broadcast
    join (tail) in one plan. min_share=0.001 so the hot set is non-empty
    at every sf; capacity=64 bounds the broadcast at 64 dim rows."""
    _ensure_shipped(spark)
    from ip_filter_spark.operators.joins import skew_split_join

    ev = _t(spark, sf_dir, "events")
    dim = ev.groupBy(F.col("user_id").alias("uk")).agg(
        F.count("*").alias("user_events"),
        F.min("value").alias("user_min"),
    )
    j = skew_split_join(
        ev.select("event_id", "user_id", "event_type", "value"),
        dim,
        big_key="user_id",
        small_key="uk",
        capacity=64,
        min_share=0.001,
    )
    plan = j._sc._jvm.PythonSQLUtils.explainString(j._jdf.queryExecution(), "formatted")
    if "BroadcastHashJoin" not in plan:
        raise AssertionError(f"hot leg must broadcast the dim's hot slice:\n{plan}")
    if plan.count("Join") < 2:
        raise AssertionError(f"expected two join legs (hot + tail):\n{plan}")
    return j.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum("user_events").alias("sum_user_events"),
        _dec_sum(F.col("value") - F.col("user_min"), "sum_over_min"),
    )


SKEW_SPLIT_JOIN_SQL = """
WITH dim AS (
  SELECT user_id AS uk, COUNT(*) AS user_events, MIN(value) AS user_min
  FROM events GROUP BY user_id
)
SELECT e.event_type, COUNT(*) AS n_events,
       CAST(SUM(d.user_events) AS BIGINT) AS sum_user_events,
       CAST(SUM(CAST(e.value - d.user_min AS DECIMAL(18,4))) AS DOUBLE) AS sum_over_min
FROM events e JOIN dim d ON e.user_id = d.uk
GROUP BY e.event_type
"""


def per_group_sample_docs(spark, sf_dir):
    """Deterministic per-group sampling: the 5 documents per lang with
    the smallest sha256(doc_id) — identity-hash order, so the sample is
    engine/rerun/cluster-size reproducible (the eval-set constructor;
    same identity-hash family as the stratified split). FULL-VALUE rows
    (lang, rk, doc_id, n_chars) vs DuckDB computing the identical rank.
    Spark plans the rank filter as WindowGroupLimit: per-partition
    top-k BEFORE the exchange — shuffle is O(groups · k · partitions),
    not O(corpus) (pinned in tests/test_plans.py)."""
    _ensure_shipped(spark)
    from ip_filter_spark.sources.sampling import deterministic_group_sample

    d = _t(spark, sf_dir, "documents")
    return deterministic_group_sample(d, "lang", "doc_id", 5).select(
        "lang", "rk", "doc_id", "n_chars"
    )


PER_GROUP_SAMPLE_SQL = """
SELECT lang, rk, doc_id, n_chars FROM (
  SELECT lang, doc_id, n_chars,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY lang ORDER BY sha256(CAST(doc_id AS VARCHAR))
         ) AS INT) AS rk
  FROM documents)
WHERE rk <= 5
"""


def prefix_jaccard_docs(spark, sf_dir):
    """Exact Jaccard >= 0.5 pairs via PREFIX FILTERING (AllPairs/PPJoin)
    — the deployable exact-similarity join. Same oracle SQL as the
    all-shingles self-join, because prefix filtering is provably
    lossless (see operators/dedup.py::prefix_filter_jaccard_pairs);
    what changes is the plan: the quadratic self-join stage touches only
    each set's rarest `|S| - ceil(t|S|) + 1` shingles, so frequent
    boilerplate shingles (the hot keys that melt the naive join at
    100 TB) never enter it. Losslessness is additionally pinned by
    pytest equality against ngram_jaccard_pairs at the same threshold."""
    from ip_filter_spark.operators.dedup import prefix_filter_jaccard_pairs

    return prefix_filter_jaccard_pairs(
        _t(spark, sf_dir, "documents"), "doc_id", "text", shingle_n=3, threshold=0.5
    )


# threshold-parameterized twin of NGRAM_JACCARD_SQL (0.05 appears only
# as the threshold, in the two WHERE positions)
PREFIX_JACCARD_SQL = NGRAM_JACCARD_SQL.replace("0.05", "0.5")


def decontaminate_docs(spark, sf_dir):
    """Benchmark decontamination: every 17th doc plays the eval set; a
    training doc is contaminated when >= 1/4 of its distinct 3-grams
    appear anywhere in the eval set (integer cross-product test). The
    benchmark gram set is BROADCAST (eval suites are fixed-size at any
    corpus scale), so the only Exchange is the per-doc groupBy."""
    from ip_filter_spark.operators.decontaminate import ngram_overlap_report

    d = _t(spark, sf_dir, "documents")
    return ngram_overlap_report(
        d.where(F.col("doc_id") % 17 != 0), d.where(F.col("doc_id") % 17 == 0)
    )


DECONTAMINATE_SQL = f"""
WITH g AS (
  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t) - 1),
                        i -> array_to_string(t[i:i+2], ' ')))) AS gram
  FROM (SELECT doc_id, {_SQL_TOKENS} AS t FROM documents)
  WHERE len(t) >= 3),
bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 17 = 0),
per_doc AS (
  SELECT t.doc_id, COUNT(*) AS n_grams,
         CAST(SUM(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
  FROM (SELECT * FROM g WHERE doc_id % 17 <> 0) t
  LEFT JOIN bench b ON t.gram = b.gram
  GROUP BY t.doc_id)
SELECT doc_id, n_grams, n_hit, n_hit * 4 >= n_grams AS contaminated
FROM per_doc WHERE n_hit > 0
"""


def edit_distance_pairs_docs(spark, sf_dir):
    """Character-level near-dup tier: Levenshtein <= 20 pairs under
    (lang, length-band) blocking with a deterministic 64-doc block cap —
    see operators.dedup.edit_distance_pairs for the recall/precision
    contract. The oracle replicates blocking + cap exactly (full
    distance, then filter; Spark's threshold variant early-exits but
    agrees on every kept pair)."""
    from ip_filter_spark.operators.dedup import edit_distance_pairs

    return edit_distance_pairs(
        _t(spark, sf_dir, "documents"), "doc_id", "text", block_cols=("lang",)
    )


EDIT_DISTANCE_SQL = """
WITH base AS (
  SELECT doc_id AS id, text AS txt, lang, length(text) // 32 AS band
  FROM documents),
capped AS (
  SELECT * FROM (
    SELECT id, txt, lang, band,
           ROW_NUMBER() OVER (PARTITION BY lang, band ORDER BY sha256(txt), id) AS rn
    FROM base) WHERE rn <= 64)
SELECT a.id AS id_a, b.id AS id_b, levenshtein(a.txt, b.txt) AS edit_dist
FROM capped a JOIN capped b ON a.lang = b.lang AND a.band = b.band AND a.id < b.id
WHERE abs(length(a.txt) - length(b.txt)) <= 20
  AND levenshtein(a.txt, b.txt) <= 20
"""


def chunk_docs_for_rag(spark, sf_dir):
    """RAG-style document chunking: split each doc into overlapping
    64-token windows (stride 48, so 16 tokens of overlap) — the
    retrieval-corpus preparation step every RAG pipeline runs. Pure
    whole-stage-codegen expressions end to end: chunk starts via
    sequence(1, n, 48), the window via slice, posexplode for the chunk
    index; each chunk surfaces as its sha256 (exact, compact) plus its
    token count. Zero shuffles — the plan is scan → project → generate;
    at 100 TB chunking is embarrassingly parallel and the ~1.3×
    row-amplification happens after column pruning."""
    W, S = 64, 48
    toks = tokens_expr("text")
    n = F.size(toks)
    starts = F.when(n >= 1, F.sequence(F.lit(1), n, F.lit(S))).otherwise(
        F.array().cast("array<int>")
    )
    chunks = F.transform(starts, lambda s: F.concat_ws(" ", F.slice(toks, s, W)))
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.posexplode(chunks).alias("chunk_ix", "chunk_text")
    )
    return d.select(
        "doc_id",
        "chunk_ix",
        F.sha2(F.col("chunk_text"), 256).alias("chunk_sha256"),
        F.size(F.split(F.col("chunk_text"), " ")).alias("n_chunk_tokens"),
    )


CHUNK_DOCS_SQL = f"""
WITH toks AS (SELECT doc_id, {_SQL_TOKENS} AS t FROM documents),
chunks AS (
  -- two parallel UNNESTs in one SELECT zip positionally in DuckDB
  SELECT doc_id,
         unnest(list_transform(range(1, len(t) + 1, 48),
                s -> array_to_string(t[s:s+63], ' '))) AS chunk_text,
         unnest(range(0, len(range(1, len(t) + 1, 48)))) AS chunk_ix
  FROM toks WHERE len(t) >= 1)
SELECT doc_id, CAST(chunk_ix AS INT) AS chunk_ix,
       sha256(chunk_text) AS chunk_sha256,
       len(string_split(chunk_text, ' ')) AS n_chunk_tokens
FROM chunks
"""


def hash_split_docs(spark, sf_dir):
    """Deterministic train/val/test split — the first operator of every
    training-data pipeline. Assignment must be a pure function of
    CONTENT (never row order, partitioning, or cluster size) so reruns,
    backfills and incremental ingests route each document identically
    and held-out sets stay held out across corpus rebuilds: bucket =
    first 8 hex chars of sha256(text) mod 100 → <80 train, <90 val,
    else test. Pure JVM expressions (sha2 + conv), embarrassingly
    parallel — the only shuffle is the tiny stats groupBy. Gated
    full-value per (split, lang): doc count, char sum, distinct
    sources."""
    d = _t(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.sha2(F.col("text"), 256), 1, 8), 16, 10).cast("long") % 100
    )
    split = F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    return (
        d.withColumn("split", split)
        .groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.countDistinct("source").alias("n_sources"),
        )
    )


HASH_SPLIT_SQL = """
SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
       lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       COUNT(DISTINCT source) AS n_sources
FROM (SELECT lang, source, n_chars,
             CAST('0x' || substr(sha256(text), 1, 8) AS BIGINT) % 100 AS b
      FROM documents)
GROUP BY 1, 2
"""


def pack_sequences_docs(spark, sf_dir):
    """Sequence packing — the training-data op after tokenize:
    concatenate documents into fixed-token-budget packs so no GPU batch
    pads. Deterministic contiguous packing in doc_id order: global
    running token total via ``distributed_prefix_sum`` (two-phase scan
    with boundary literals — NOT the single-partition global window,
    which is a driver-wall at scale; this gate is the operator's
    second consumer beside the cumulative-new-users gate), then
    pack_id = cum_exclusive div BUDGET. A document never splits, so a
    pack exceeds the budget by less than its own largest member —
    gated per pack as ``within_slack`` alongside full-value doc and
    token counts; the oracle replays the identical window algebra."""
    budget = 2048
    d = _t(spark, sf_dir, "documents")
    n_tok = F.size(F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda x: x != ""))
    base = d.select("doc_id", n_tok.cast("long").alias("n_tok"))
    from ip_filter_spark.operators.aggregates import distributed_prefix_sum

    cum = distributed_prefix_sum(base, "doc_id", "n_tok", out_col="cum")
    packed = cum.withColumn("pack_id", F.expr(f"(cum - n_tok) div {budget}"))
    return packed.groupBy("pack_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("pack_tokens"),
        (F.sum("n_tok") < budget + F.max("n_tok")).alias("within_slack"),
    )


PACK_SEQUENCES_SQL = f"""
WITH t AS (
  SELECT doc_id,
         len(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')) AS n_tok
  FROM documents
), c AS (
  SELECT doc_id, n_tok, SUM(n_tok) OVER (ORDER BY doc_id) - n_tok AS cum_excl FROM t
)
SELECT CAST(cum_excl // 2048 AS BIGINT) AS pack_id, COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS pack_tokens,
       (SUM(n_tok) < 2048 + MAX(n_tok)) AS within_slack
FROM c GROUP BY 1
"""


def dup_ngram_spans_docs(spark, sf_dir):
    """Exact-substring duplicate spans (ExactSubstr of Lee et al. 2021,
    suffix-array-free — see operators/dedup.duplicate_span_stats): the
    top 20 most-repeated 4-token windows across the corpus, totally
    ordered by (occurrences desc, docs desc, sha asc). The oracle
    replays the identical window algebra in SQL."""
    from ip_filter_spark.operators.dedup import duplicate_span_stats

    d = _t(spark, sf_dir, "documents")
    return duplicate_span_stats(d, "text", "doc_id", window_tokens=4, top_k=20)


DUP_NGRAM_SPANS_SQL = f"""
WITH toks AS (SELECT doc_id, {_SQL_TOKENS} AS t FROM documents),
spans AS (
  SELECT doc_id,
         sha256(unnest(list_transform(range(1, len(t) - 2),
                s -> array_to_string(t[s:s+3], ' ')))) AS span_sha
  FROM toks WHERE len(t) >= 4)
SELECT span_sha, COUNT(*) AS n_occurrences, COUNT(DISTINCT doc_id) AS n_docs
FROM spans GROUP BY span_sha HAVING COUNT(*) > 1
ORDER BY n_occurrences DESC, n_docs DESC, span_sha ASC LIMIT 20
"""


def balanced_sample_docs(spark, sf_dir):
    """Training-mix balancing: cap every source at EXACTLY 10 documents,
    selected by deterministic content-hash order (sources/sampling.
    balanced_sample — the two-phase bucket-histogram form that avoids
    the one-task-per-group window wall at 100 TB). The selected set is
    provably identical to the naive ``row_number per source`` form the
    SQL oracle runs, because the hash key is unique per row. Output:
    per-source kept-set aggregates."""
    from ip_filter_spark.sources.sampling import balanced_sample

    d = _t(spark, sf_dir, "documents")
    key = F.sha2(F.concat_ws(":", F.col("text"), F.col("doc_id")), 256)
    kept = balanced_sample(d, "source", key, n_per_group=10)
    return kept.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.countDistinct("lang").alias("n_langs"),
    )


BALANCED_SAMPLE_SQL = """
WITH k AS (
  SELECT source, lang, n_chars,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY sha256(concat(text, ':', CAST(doc_id AS VARCHAR)))) AS rn
  FROM documents)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       COUNT(DISTINCT lang) AS n_langs
FROM k WHERE rn <= 10 GROUP BY source
"""


def curation_pipeline_v2_docs(spark, sf_dir):
    """End-to-end curation composing the round-4 operators: (1) drop
    every document that shares a 4-token exact substring with ANOTHER
    document (ExactSubstr dedup at the doc level — the span table
    groups once on sha, flagged doc-ids come back as one broadcastable
    set); (2) balance the survivors to <= 8 docs per source by
    content-hash order (the two-phase histogram sampler); (3) report
    per-source kept counts + chars. One span shuffle + one broadcast
    semi-join + the sampler's broadcast joins — the corpus text itself
    is never shuffled."""
    from ip_filter_spark.sources.sampling import balanced_sample

    d = _t(spark, sf_dir, "documents")
    spans = d.select(
        F.col("doc_id"), F.explode(ngrams_expr(F.col("text"), 4)).alias("span")
    ).select("doc_id", F.sha2(F.col("span"), 256).alias("span_sha"))
    cross_doc = (
        spans.groupBy("span_sha")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .where(F.col("n_docs") >= 2)
    )
    flagged = (
        spans.join(cross_doc, "span_sha", "leftsemi").select("doc_id").distinct()
    )
    clean = d.join(flagged, "doc_id", "left_anti")
    key = F.sha2(F.concat_ws(":", F.col("text"), F.col("doc_id")), 256)
    kept = balanced_sample(clean, "source", key, n_per_group=8)
    return kept.groupBy("source").agg(
        F.count("*").alias("n_docs"), F.sum("n_chars").alias("sum_chars")
    )


CURATION_V2_SQL = f"""
WITH toks AS (SELECT doc_id, {_SQL_TOKENS} AS t FROM documents),
spans AS (
  SELECT doc_id,
         sha256(unnest(list_transform(range(1, len(t) - 2),
                s -> array_to_string(t[s:s+3], ' ')))) AS span_sha
  FROM toks WHERE len(t) >= 4),
cross_doc AS (
  SELECT span_sha FROM spans GROUP BY span_sha
  HAVING COUNT(DISTINCT doc_id) >= 2),
flagged AS (
  SELECT DISTINCT doc_id FROM spans JOIN cross_doc USING (span_sha)),
clean AS (
  SELECT * FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM flagged)),
ranked AS (
  SELECT source, n_chars,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY sha256(concat(text, ':', CAST(doc_id AS VARCHAR)))) AS rn
  FROM clean)
SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM ranked WHERE rn <= 8 GROUP BY source
"""


def incremental_near_dup_docs(spark, sf_dir):
    """Daily-ingest near-dup: docs with doc_id % 4 == 0 are the NEW
    batch, the rest the indexed corpus (operators/dedup.build_lsh_index
    → query_lsh_index). The corpus text never rescans and never
    shuffles at query time — the batch's band rows broadcast against
    the postings scan with the materialized ``n_in_bucket`` cap pushed
    into the parquet read. Oracle replays the full algorithm in SQL
    restricted to new x old pairs with the old-side-only bucket cap."""
    import re as _re
    import tempfile

    from ip_filter_spark.operators.dedup import build_lsh_index, query_lsh_index

    d = _t(spark, sf_dir, "documents")
    idx = os.path.join(
        tempfile.gettempdir(), "ifs_lsh_index_" + _re.sub(r"\W", "_", sf_dir)
    )
    build_lsh_index(
        d.where(F.col("doc_id") % 4 != 0), "doc_id", "text", idx, num_perm=64, bands=16
    )
    return query_lsh_index(
        spark,
        idx,
        d.where(F.col("doc_id") % 4 == 0),
        "doc_id",
        "text",
        num_perm=64,
        bands=16,
        threshold=0.5,
    )


def icws_weighted_jaccard_docs(spark, sf_dir):
    """ICWS weighted MinHash (Ioffe, ICDM 2010) vs exact weighted
    Jaccard over term-frequency multisets: plain MinHash ignores how
    often a term repeats; the weighted Jaccard Σmin/Σmax is the
    similarity a dedup pass over real corpora needs.  Ten document
    pairs (2i, 2i+1): Spark computes each doc's 128-slot ICWS signature
    (term digests JVM-side via ``engine.sha256_digest``, the O(F·H)
    sampler per doc in ``sketches/weighted_minhash.py`` — deterministic
    splitmix64 streams, so partition layout can't change a signature),
    estimates J_w as the equal-slot fraction with JVM ``zip_with`` +
    ``aggregate``, and checks it against the exact Σmin/Σmax computed
    the same pivot-shaped way as the oracle.  Gated: exact jw_num /
    jw_den as BIGINTs (full value) + the |est − exact| ≤ 0.25 boolean
    (5.7σ at H=128 — and deterministic given the fixed seed)."""
    import pandas as pd

    from ip_filter_spark.engine import sha256_digest
    from ip_filter_spark.sketches.hashing import digests_to_matrix, fnv1a64
    from ip_filter_spark.sketches.weighted_minhash import icws_signature

    H, SEED = 128, 11
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 20)
    tok = docs.select("doc_id", F.explode(F.split("text", " ", -1)).alias("term"))
    tc = tok.groupBy("doc_id", "term").agg(F.count("*").alias("cnt"))

    piv = tc.groupBy(F.floor(F.col("doc_id") / 2).alias("pair_id"), "term").agg(
        F.sum(F.when(F.col("doc_id") % 2 == 0, F.col("cnt")).otherwise(0)).alias("a"),
        F.sum(F.when(F.col("doc_id") % 2 == 1, F.col("cnt")).otherwise(0)).alias("b"),
    )
    exact = piv.groupBy("pair_id").agg(
        F.sum(F.least("a", "b")).alias("jw_num"),
        F.sum(F.greatest("a", "b")).alias("jw_den"),
    )

    tcd = tc.select("doc_id", sha256_digest(F.col("term")).alias("__digest"), "cnt")

    def sig(pdf: pd.DataFrame) -> pd.DataFrame:
        h64 = fnv1a64(digests_to_matrix(pdf["__digest"]))
        s = icws_signature(h64, pdf["cnt"].to_numpy(), H, SEED)
        return pd.DataFrame({"doc_id": [pdf["doc_id"].iloc[0]], "sig": [s.tolist()]})

    sigs = tcd.groupBy("doc_id").applyInPandas(sig, schema="doc_id long, sig array<long>")
    a = sigs.where(F.col("doc_id") % 2 == 0).select(
        F.floor(F.col("doc_id") / 2).alias("pair_id"), F.col("sig").alias("sig_a")
    )
    b = sigs.where(F.col("doc_id") % 2 == 1).select(
        F.floor(F.col("doc_id") / 2).alias("pair_id"), F.col("sig").alias("sig_b")
    )
    est = a.join(b, "pair_id").select(
        "pair_id",
        (
            F.aggregate(
                F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
                F.lit(0),
                lambda acc, v: acc + v,
            )
            / F.lit(H)
        ).alias("est"),
    )
    return exact.join(est, "pair_id").select(
        "pair_id",
        "jw_num",
        "jw_den",
        (F.abs(F.col("est") - F.col("jw_num") / F.col("jw_den")) <= 0.25).alias("icws_close"),
    )


ICWS_WEIGHTED_SQL = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term
  FROM documents WHERE doc_id < 20),
tc AS (SELECT doc_id, term, COUNT(*) AS cnt FROM tok GROUP BY doc_id, term),
piv AS (SELECT doc_id // 2 AS pair_id, term,
               SUM(CASE WHEN doc_id % 2 = 0 THEN cnt ELSE 0 END) AS a,
               SUM(CASE WHEN doc_id % 2 = 1 THEN cnt ELSE 0 END) AS b
        FROM tc GROUP BY doc_id // 2, term)
SELECT pair_id, CAST(SUM(LEAST(a, b)) AS BIGINT) AS jw_num,
       CAST(SUM(GREATEST(a, b)) AS BIGINT) AS jw_den,
       TRUE AS icws_close
FROM piv GROUP BY pair_id
"""


def jaccard_type_overlap_events(spark, sf_dir):
    """Pairwise audience overlap — exact Jaccard numerators/denominators
    between event types over their user sets (the segment-overlap
    matrix product teams read daily). Distinct (user, type) once — ONE
    shuffle on user_id — then a self-join per user pairs the ≤T types a
    user touches (T = type-domain size, so per-user work is T², not
    corpus-sized), and |A∪B| follows from the inclusion-exclusion
    identity with broadcast per-type totals rather than a second pass.
    Integers only; the float ratio is left to the reader."""
    ev = _t(spark, sf_dir, "events")
    ut = ev.select("user_id", "event_type").distinct()
    sizes = ut.groupBy("event_type").agg(F.count("*").alias("n_users"))
    a, b = ut.alias("a"), ut.alias("b")
    inter = (
        a.join(b, "user_id")
        .where(F.col("a.event_type") < F.col("b.event_type"))
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count("*").alias("n_inter"))
    )
    sa = F.broadcast(sizes.select(F.col("event_type").alias("type_a"), F.col("n_users").alias("n_a")))
    sb = F.broadcast(sizes.select(F.col("event_type").alias("type_b"), F.col("n_users").alias("n_b")))
    return (
        inter.join(sa, "type_a")
        .join(sb, "type_b")
        .select(
            "type_a", "type_b", "n_inter",
            (F.col("n_a") + F.col("n_b") - F.col("n_inter")).alias("n_union"),
        )
    )


JACCARD_TYPE_OVERLAP_SQL = """
WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
sizes AS (SELECT event_type, COUNT(*) AS n_users FROM ut GROUP BY 1),
inter AS (SELECT a.event_type AS type_a, b.event_type AS type_b, COUNT(*) AS n_inter
          FROM ut a JOIN ut b ON a.user_id = b.user_id
          WHERE a.event_type < b.event_type GROUP BY 1, 2)
SELECT type_a, type_b, n_inter,
       sa.n_users + sb.n_users - n_inter AS n_union
FROM inter
JOIN sizes sa ON sa.event_type = type_a
JOIN sizes sb ON sb.event_type = type_b
"""


def oph_minhash_sql(
    k: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    shingle_n: int = 3,
    max_bucket: int = 200,
) -> str:
    """Full DuckDB replica of oph_minhash_pairs(hash_fn='sha'): same
    shingles, same sha-derived base hash, bucket = h mod k / value =
    h div k, the same min-encode rotation densification (integer-exact
    in both engines), same polynomial band keys, bucket cap and
    agreement fraction. The oracle checks the ALGORITHM end to end."""
    from ip_filter_spark.operators.dedup import _BAND_K, _OPH_BIG, _OPH_C, MINHASH_P

    P = MINHASH_P
    r = k // bands
    vals_list = ", ".join(f"MIN(CASE WHEN b = {i} THEN v END)" for i in range(k))

    def key_expr(b: int) -> str:
        # interleaved components (stride = bands): rotation densification
        # correlates ADJACENT components, so consecutive slices collide at
        # ~J instead of J^r — see operators/dedup.band_key_expr
        acc = str(b + 1)
        for j in range(r):
            acc = f"(({acc}) * {_BAND_K} + sig[{b + j * bands + 1}]) % {P}"
        return acc

    banded = "\n  UNION ALL\n".join(
        f"  SELECT id, {b} AS band, {key_expr(b)} AS key FROM dens" for b in range(bands)
    )
    return f"""
WITH shg AS (
  SELECT DISTINCT doc_id AS id, unnest({_sql_shingles(shingle_n)}) AS sh FROM documents),
h AS (SELECT id, CAST('0x' || substr(sha256(sh), 1, 15) AS BIGINT) % {P} AS h FROM shg),
m AS (SELECT id, h % {k} AS b, MIN(h // {k}) AS v FROM h GROUP BY id, h % {k}),
vals AS (SELECT id, [{vals_list}] AS vals FROM m GROUP BY id),
dens AS (SELECT id, list_transform(range(0, {k}), i ->
    list_min(list_transform(
      list_filter(range(0, {k}), j -> vals[((i + j) % {k}) + 1] IS NOT NULL),
      j -> j * {_OPH_BIG} + vals[((i + j) % {k}) + 1] + j * {_OPH_C})) % {_OPH_BIG}) AS sig
  FROM vals),
banded AS (
{banded}),
ok AS (SELECT band, key FROM banded GROUP BY band, key
       HAVING COUNT(*) >= 2 AND COUNT(*) <= {max_bucket}),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM banded a JOIN ok USING (band, key)
  JOIN banded b ON a.band = b.band AND a.key = b.key AND a.id < b.id),
est AS (
  SELECT id_a, id_b,
         ROUND(list_sum(list_transform(range(1, {k + 1}),
               i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) / {float(k)}, 6) AS est_jaccard
  FROM cand JOIN dens sa ON sa.id = cand.id_a JOIN dens sb ON sb.id = cand.id_b)
SELECT id_a, id_b, est_jaccard FROM est WHERE est_jaccard >= {threshold}
"""


def oph_minhash_pairs_docs(spark, sf_dir):
    """Near-dup pairs via One-Permutation-Hashing MinHash — the
    one-hash-per-shingle signature build (Li/Owen/Zhang NIPS'12 +
    Shrivastava/Li ICML'14 rotation densification). minhash_pairs_docs
    spends num_perm affine maps per shingle; OPH spends ONE mod+div —
    at 10^12 documents the signature build dominates dedup cost, so
    this is the scale path, and the LSH tail (bands, caps, broadcast
    verify) is shared code. FULL algorithm-replica oracle: DuckDB
    recomputes shingles → base hash → bucket mins → min-encode
    densification → band keys → capped pairs → agreement fraction,
    integer-exact at every step."""
    _ensure_shipped(spark)
    from ip_filter_spark.operators.dedup import oph_minhash_pairs

    d = _t(spark, sf_dir, "documents")
    return oph_minhash_pairs(d, "doc_id", "text", k=64, bands=16, threshold=0.5)


_MIXTURE_WEIGHTS = {"en": 3, "fr": 2, "es": 2}  # others default to 1


def mixture_resample_docs(spark, sf_dir):
    """Deterministic resampling to a TARGET LANGUAGE MIXTURE (the
    training-mix targeting step: fix the en:fr:es:zh:de ratio at
    3:2:2:1:1): per-lang budget t_l = w_l · min_l⌊n_l / w_l⌋ — the
    largest sample achieving the exact ratio without upsampling — and
    the t_l kept docs are the smallest sha256(doc_id) per lang
    (identity-hash order: engine/rerun/cluster-size reproducible, and
    growing a group only moves its boundary). Generalizes
    balanced_sample from equal counts to arbitrary ratios. FULL-VALUE
    per-lang verification: budget, kept count, and integer checksums
    (Σ doc_id, Σ n_chars) of the kept subset vs DuckDB computing the
    identical ranks."""
    _ensure_shipped(spark)
    from ip_filter_spark.sources.sampling import mixture_resample

    d = _t(spark, sf_dir, "documents")
    kept = mixture_resample(d, "lang", "doc_id", _MIXTURE_WEIGHTS)
    return (
        kept.groupBy("lang")
        .agg(
            F.max("budget").cast("long").alias("target_n"),
            F.count("*").cast("long").alias("kept_n"),
            F.sum("doc_id").cast("long").alias("id_sum"),
            F.sum("n_chars").cast("long").alias("chars_sum"),
        )
    )


def _mixture_sql() -> str:
    cases = " ".join(f"WHEN '{g}' THEN {w}" for g, w in _MIXTURE_WEIGHTS.items())
    return f"""
WITH w AS (
  SELECT lang, COUNT(*) AS n, CASE lang {cases} ELSE 1 END AS wt
  FROM documents GROUP BY lang),
budget AS (
  SELECT lang, wt * (SELECT MIN(n // wt) FROM w) AS t FROM w),
ranked AS (
  SELECT lang, doc_id, n_chars,
         ROW_NUMBER() OVER (
           PARTITION BY lang ORDER BY sha256(CAST(doc_id AS VARCHAR))
         ) AS rk
  FROM documents)
SELECT r.lang,
       CAST(MIN(b.t) AS BIGINT) AS target_n,
       CAST(COUNT(*) AS BIGINT) AS kept_n,
       CAST(SUM(r.doc_id) AS BIGINT) AS id_sum,
       CAST(SUM(r.n_chars) AS BIGINT) AS chars_sum
FROM ranked r JOIN budget b ON r.lang = b.lang
WHERE r.rk <= b.t
GROUP BY r.lang
"""


def training_prep_pipeline_docs(spark, sf_dir):
    """END-TO-END training-data prep in ONE gated composition — the
    sequence a real corpus walks before the GPU sees it, each stage an
    already-gated operator, composed so the STAGE INTERACTIONS are
    under the hard gate too: (1) quality filter (≥5 tokens), (2) exact
    dedup (min-doc_id survivor per sha256(text)), (3) train split
    (content-hash bucket < 80 — the same pure-content assignment as
    hash_split_docs, so dedup-then-split routes identically on
    reruns), (4) fixed-budget sequence packing of the surviving train
    docs via distributed_prefix_sum. Values: per-pack doc/token counts
    + the no-split slack bound, with the four exact stage cardinalities
    as anchor columns; the oracle replays all four stages in SQL."""
    budget = 2048
    d = _t(spark, sf_dir, "documents")
    n_tok = F.size(F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda x: x != ""))
    base = d.select(
        "doc_id", F.sha2("text", 256).alias("sha"), n_tok.cast("long").alias("n_tok")
    )
    n_input = base.count()
    quality = base.where(F.col("n_tok") >= 5)
    n_quality = quality.count()
    w = Window.partitionBy("sha").orderBy("doc_id")
    unique = quality.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") == 1)
    n_unique = unique.count()
    bucket = F.conv(F.substring("sha", 1, 8), 16, 10).cast("long") % 100
    train = unique.where(bucket < 80).select("doc_id", "n_tok")
    n_train = train.count()
    from ip_filter_spark.operators.aggregates import distributed_prefix_sum

    cum = distributed_prefix_sum(train, "doc_id", "n_tok", out_col="cum")
    packed = cum.withColumn("pack_id", F.expr(f"(cum - n_tok) div {budget}"))
    return packed.groupBy("pack_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("pack_tokens"),
        (F.sum("n_tok") < budget + F.max("n_tok")).alias("within_slack"),
    ).select(
        "*",
        F.lit(n_input).cast("long").alias("n_input"),
        F.lit(n_quality).cast("long").alias("n_quality"),
        F.lit(n_unique).cast("long").alias("n_unique"),
        F.lit(n_train).cast("long").alias("n_train"),
    )


TRAINING_PREP_SQL = """
WITH t AS (
  SELECT doc_id, sha256(text) AS sha,
         len(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')) AS n_tok
  FROM documents),
q AS (SELECT * FROM t WHERE n_tok >= 5),
u AS (SELECT doc_id, sha, n_tok FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY sha ORDER BY doc_id) AS rn FROM q)
      WHERE rn = 1),
tr AS (SELECT doc_id, n_tok FROM u
       WHERE CAST('0x' || substr(sha, 1, 8) AS BIGINT) % 100 < 80),
c AS (SELECT doc_id, n_tok, SUM(n_tok) OVER (ORDER BY doc_id) - n_tok AS cum_excl FROM tr)
SELECT CAST(cum_excl // 2048 AS BIGINT) AS pack_id, COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS pack_tokens,
       (SUM(n_tok) < 2048 + MAX(n_tok)) AS within_slack,
       (SELECT COUNT(*) FROM t) AS n_input,
       (SELECT COUNT(*) FROM q) AS n_quality,
       (SELECT COUNT(*) FROM u) AS n_unique,
       (SELECT COUNT(*) FROM tr) AS n_train
FROM c GROUP BY 1
"""


def lsh_recall_docs(spark, sf_dir):
    """LSH TUNING gate — measures banded MinHash-LSH candidate recall
    and precision against EXACT Jaccard >= 0.5 ground truth, both sides
    fully in-engine. Truth = the prefix-filtered exact similarity join
    (provably lossless, already gated as prefix_jaccard_docs);
    candidates = the raw band-bucket pairs (threshold=0.0 disables the
    signature-estimate filter, so this measures the BUCKETING, the part
    (1-(1-J^r)^b) theory speaks to: r=4, b=32 gives P(candidate) ~= 0.88
    at J=0.5, higher above). Output is one row of exact integers
    (n_truth, n_cand, n_hit, recall in basis points) — the numbers a
    user reads to pick bands/rows before a 100 TB dedup run. Both truth
    and candidate joins shuffle O(pairs), never O(corpus); the oracle
    replays the exact join AND the full MinHash bucketing in SQL."""
    _ensure_shipped(spark)
    from ip_filter_spark.operators.dedup import minhash_lsh_pairs, prefix_filter_jaccard_pairs

    d = _t(spark, sf_dir, "documents")
    truth = prefix_filter_jaccard_pairs(d, "doc_id", "text", shingle_n=3, threshold=0.5).select(
        "id_a", "id_b", F.lit(1).alias("in_truth")
    )
    cand = minhash_lsh_pairs(
        d, "doc_id", "text", num_perm=128, bands=32, threshold=0.0, hash_fn="sha"
    ).select("id_a", "id_b", F.lit(1).alias("in_cand"))
    full = truth.join(cand, ["id_a", "id_b"], "full_outer")
    return full.agg(
        F.coalesce(F.sum("in_truth"), F.lit(0)).cast("long").alias("n_truth"),
        F.coalesce(F.sum("in_cand"), F.lit(0)).cast("long").alias("n_cand"),
        F.coalesce(F.sum(F.col("in_truth") * F.col("in_cand")), F.lit(0)).cast("long").alias("n_hit"),
    ).select(
        "*",
        F.when(F.col("n_truth") == 0, F.lit(0))
        .otherwise(F.expr("n_hit * 10000 div n_truth"))
        .cast("long")
        .alias("recall_bp"),
    )


def lsh_recall_sql() -> str:
    truth_sql = NGRAM_JACCARD_SQL.replace("0.05", "0.5")
    cand_sql = minhash_lsh_sql(num_perm=128, bands=32, threshold=0.0)
    return f"""
WITH truth AS (SELECT id_a, id_b FROM ({truth_sql}) t),
cand AS (SELECT id_a, id_b FROM ({cand_sql}) c),
hit AS (SELECT COUNT(*) AS n FROM truth JOIN cand USING (id_a, id_b))
SELECT (SELECT COUNT(*) FROM truth) AS n_truth,
       (SELECT COUNT(*) FROM cand) AS n_cand,
       (SELECT n FROM hit) AS n_hit,
       CASE WHEN (SELECT COUNT(*) FROM truth) = 0 THEN 0
            ELSE (SELECT n FROM hit) * 10000 // (SELECT COUNT(*) FROM truth) END AS recall_bp
"""


def leakage_safe_split_docs(spark, sf_dir):
    """LEAKAGE-SAFE train/test split — the standard content-hash split
    (hash_split_docs) still leaks through NEAR-duplicates: a doc and its
    paraphrase can land in train and test. This gate splits by DEDUP
    COMPONENT instead: simhash near-dup pairs -> connected components;
    every doc inherits its component representative's fold (singletons
    are their own component), so by construction no near-dup pair
    straddles folds. Output: per-fold doc/component counts plus the
    witness columns n_pairs and n_cross (cross-fold near-dup pairs —
    must be 0, and the oracle COMPUTES it over the recursive-CTE
    components rather than asserting it). At 100 TB the pair graph is
    pair-bounded, CC is O(diameter) hops, and the fold assignment is one
    broadcast-joined hash — the corpus shuffles once for the rollup."""
    _ensure_shipped(spark)
    from ip_filter_spark.operators.dedup import connected_components, simhash_pairs

    d = _t(spark, sf_dir, "documents")
    pairs = simhash_pairs(d, "doc_id", "text", max_hamming=3, hash_fn="sha").select("id_a", "id_b")
    cc = connected_components(pairs, "id_a", "id_b").withColumnRenamed("node", "doc_id")
    lab = (
        d.select("doc_id")
        .join(F.broadcast(cc), "doc_id", "left")
        .withColumn("component", F.coalesce("component", "doc_id"))
    )
    fold_of = lambda c: (  # noqa: E731 — shared Spark-side hash expr
        F.conv(F.substring(F.sha2(c.cast("string"), 256), 1, 8), 16, 10).cast("long") % 5
    )
    lab = lab.withColumn("fold", fold_of(F.col("component")))
    pf = pairs.join(
        F.broadcast(lab.select(F.col("doc_id").alias("id_a"), F.col("fold").alias("fold_a"))), "id_a"
    ).join(
        F.broadcast(lab.select(F.col("doc_id").alias("id_b"), F.col("fold").alias("fold_b"))), "id_b"
    )
    witness = pf.agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.coalesce(F.sum((F.col("fold_a") != F.col("fold_b")).cast("long")), F.lit(0))
        .cast("long")
        .alias("n_cross"),
    )
    return (
        lab.groupBy("fold")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.countDistinct("component").cast("long").alias("n_components"),
        )
        .crossJoin(F.broadcast(witness))
    )


def leakage_safe_split_sql() -> str:
    return f"""
WITH RECURSIVE pairs AS ({simhash_sql(max_hamming=3)}),
edges AS (SELECT id_a AS a, id_b AS b FROM pairs
          UNION ALL SELECT id_b, id_a FROM pairs),
nodes AS (SELECT DISTINCT a AS node FROM edges),
reach(src, nd) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.nd = e.a
),
lab AS (SELECT src AS node, MIN(nd) AS component FROM reach GROUP BY src),
f AS (SELECT doc_id, COALESCE(lab.component, doc_id) AS component,
             CAST('0x' || substr(sha256(CAST(COALESCE(lab.component, doc_id) AS VARCHAR)), 1, 8) AS BIGINT) % 5 AS fold
      FROM documents LEFT JOIN lab ON doc_id = lab.node),
w AS (SELECT COUNT(*) AS n_pairs,
             CAST(COALESCE(SUM(CASE WHEN fa.fold <> fb.fold THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_cross
      FROM pairs JOIN f fa ON pairs.id_a = fa.doc_id JOIN f fb ON pairs.id_b = fb.doc_id)
SELECT fold, COUNT(*) AS n_docs, COUNT(DISTINCT component) AS n_components,
       (SELECT n_pairs FROM w) AS n_pairs, (SELECT n_cross FROM w) AS n_cross
FROM f GROUP BY fold
"""


def record_linkage_docs(spark, sf_dir):
    """Entity resolution / record linkage across two source systems —
    the cross-source twin of dedup that a multi-source training corpus
    needs (same page matched across crawls, user matched across logs).
    Source A = documents keyed by their first-4-token "name"; source B =
    the same records under a DETERMINISTIC perturbation chosen by a
    sha256 bit of the id (drop a token / inject a typo / unchanged), so
    ground truth is known by construction and the gate emits EXACT
    precision/recall evidence, not a plausibility check. Linkage =
    blocking on (lang, first token) — an equi-join, O(sum of block
    cross-sizes), never the O(|A|x|B|) BroadcastNestedLoopJoin a raw
    similarity predicate would plan — then JVM Levenshtein scoring and
    threshold classification (operators/dedup.blocked_record_linkage).
    The untouched first token makes blocking recall 1.0 by construction,
    so every true pair is scored; the output row carries n_records,
    candidates, matches, exact TP/FP, and recall in basis points. The
    oracle replays derivation, blocking, scoring, and classification
    symbol-for-symbol in SQL."""
    from ip_filter_spark.operators.dedup import blocked_record_linkage

    d = _t(spark, sf_dir, "documents")
    full = F.split(F.trim(F.col("text")), r"\s+")
    base = (
        d.select("doc_id", "lang", F.slice(full, 1, 4).alias("t"))
        .where(F.size(full) >= 4)
    )
    a = base.select(
        F.col("doc_id").alias("id_a"),
        "lang",
        F.concat_ws(" ", "t").alias("name_a"),
        F.element_at("t", 1).alias("blk"),
    )
    h = (
        F.conv(F.substring(F.sha2(F.col("doc_id").cast("string"), 256), 1, 8), 16, 10).cast(
            "long"
        )
        % 3
    )
    t1, t2, t3, t4 = (F.element_at("t", i) for i in (1, 2, 3, 4))
    name_b = (
        F.when(h == 0, F.concat_ws(" ", t1, t3, t4))
        .when(h == 1, F.concat_ws(" ", t1, t2, F.concat(t3, F.lit("x")), t4))
        .otherwise(F.concat_ws(" ", "t"))
    )
    b = base.select(
        (F.col("doc_id") + 1000000).alias("id_b"),
        "lang",
        name_b.alias("name_b"),
        F.element_at("t", 1).alias("blk"),
    )
    n_records = base.count()
    m = blocked_record_linkage(a, b, ["lang", "blk"], max_dist=6)
    tp = F.col("is_match") & (F.col("id_b") - 1000000 == F.col("id_a"))
    return m.agg(
        F.count("*").cast("long").alias("n_candidates"),
        F.sum(F.col("is_match").cast("long")).cast("long").alias("n_matched"),
        F.sum(tp.cast("long")).cast("long").alias("n_tp"),
    ).select(
        F.lit(n_records).cast("long").alias("n_records"),
        "*",
        (F.col("n_matched") - F.col("n_tp")).cast("long").alias("n_fp"),
        F.expr(f"n_tp * 10000 div {n_records}").cast("long").alias("recall_bp"),
    )


RECORD_LINKAGE_SQL = r"""
WITH raw AS (
  SELECT doc_id, lang, regexp_split_to_array(trim(text), '\s+') AS ft FROM documents),
base AS (
  SELECT doc_id, lang, ft[1:4] AS t,
         CAST('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 3 AS h
  FROM raw WHERE len(ft) >= 4),
a AS (SELECT doc_id AS id_a, lang, array_to_string(t, ' ') AS name_a, t[1] AS blk FROM base),
b AS (SELECT doc_id + 1000000 AS id_b, lang,
             CASE WHEN h = 0 THEN t[1] || ' ' || t[3] || ' ' || t[4]
                  WHEN h = 1 THEN t[1] || ' ' || t[2] || ' ' || t[3] || 'x' || ' ' || t[4]
                  ELSE array_to_string(t, ' ') END AS name_b,
             t[1] AS blk
      FROM base),
m AS (
  SELECT id_a, id_b, levenshtein(name_a, name_b) AS dist,
         levenshtein(name_a, name_b) <= 6 AS is_match
  FROM a JOIN b USING (lang, blk))
SELECT (SELECT COUNT(*) FROM base) AS n_records,
       COUNT(*) AS n_candidates,
       CAST(SUM(CASE WHEN is_match THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
       CAST(SUM(CASE WHEN is_match AND id_b - 1000000 = id_a THEN 1 ELSE 0 END) AS BIGINT) AS n_tp,
       CAST(SUM(CASE WHEN is_match AND id_b - 1000000 <> id_a THEN 1 ELSE 0 END) AS BIGINT) AS n_fp,
       CAST(SUM(CASE WHEN is_match AND id_b - 1000000 = id_a THEN 1 ELSE 0 END) * 10000
            // (SELECT COUNT(*) FROM base) AS BIGINT) AS recall_bp
FROM m
"""


__all__ = [
    "hash_sample_docs",
    "HASH_SAMPLE_SQL",
    "sha256_distinct_exact",
    "SHA_DISTINCT_SQL",
    "dup_groups_exact",
    "DUP_GROUPS_SQL",
    "curation_pipeline_docs",
    "CURATION_SQL",
    "ngram_jaccard_docs",
    "NGRAM_JACCARD_SQL",
    "minhash_lsh_sql",
    "simhash_sql",
    "minhash_pairs_docs",
    "simhash_pairs_docs",
    "dedup_components_docs",
    "curation_near_dup_docs",
    "curation_near_dup_sql",
    "dedup_components_sql",
    "minhash_corpus_signature",
    "MINHASH_CORPUS_SQL",
    "reservoir_sample_events",
    "RESERVOIR_SQL",
    "stratified_split_docs",
    "STRATIFIED_SPLIT_SQL",
    "_SHARD_BUDGET",
    "shard_pack_docs",
    "SHARD_PACK_SQL",
    "skew_split_join_events",
    "SKEW_SPLIT_JOIN_SQL",
    "per_group_sample_docs",
    "PER_GROUP_SAMPLE_SQL",
    "prefix_jaccard_docs",
    "PREFIX_JACCARD_SQL",
    "decontaminate_docs",
    "DECONTAMINATE_SQL",
    "edit_distance_pairs_docs",
    "EDIT_DISTANCE_SQL",
    "chunk_docs_for_rag",
    "CHUNK_DOCS_SQL",
    "hash_split_docs",
    "HASH_SPLIT_SQL",
    "pack_sequences_docs",
    "PACK_SEQUENCES_SQL",
    "dup_ngram_spans_docs",
    "DUP_NGRAM_SPANS_SQL",
    "balanced_sample_docs",
    "BALANCED_SAMPLE_SQL",
    "curation_pipeline_v2_docs",
    "CURATION_V2_SQL",
    "incremental_near_dup_docs",
    "icws_weighted_jaccard_docs",
    "ICWS_WEIGHTED_SQL",
    "jaccard_type_overlap_events",
    "JACCARD_TYPE_OVERLAP_SQL",
    "oph_minhash_sql",
    "oph_minhash_pairs_docs",
    "_MIXTURE_WEIGHTS",
    "mixture_resample_docs",
    "_mixture_sql",
    "training_prep_pipeline_docs",
    "TRAINING_PREP_SQL",
    "lsh_recall_docs",
    "lsh_recall_sql",
    "leakage_safe_split_docs",
    "leakage_safe_split_sql",
    "record_linkage_docs",
    "RECORD_LINKAGE_SQL",
]
