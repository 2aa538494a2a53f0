"""Deduplication operators for training-data pipelines.

Four tiers, all built on the same shingle/token algebra:

- ``exact_dup_groups`` / ``dedup_exact``: sha256(content) hash-groupBy —
  one shuffle, the baseline.
- ``minhash_lsh_pairs``: MinHash + banded LSH. Shingle hashing stays
  JVM-side (sha2 codegen, oracle-replicable); the per-doc min folds,
  band keys and in-bucket pair emission run in numpy ``mapInArrow``
  kernels over whole Arrow batches (r6: signatures are ROW-LOCAL — the
  groupBy(id) shuffle is gone; the bucket stage shuffles two longs per
  band row and sorts them as flat int64 columns instead of an object
  collect_list). Verified by signature agreement.
- ``simhash_pairs``: 64-bit SimHash with 4x16-bit chunk blocking
  (pigeonhole: hamming <= 3 pairs share >= 1 chunk), verified with
  ``bit_count(xor)``; bit votes are row-local numpy reduceats (r6).
- ``ngram_jaccard_pairs``: exact Jaccard over distinct shingle sets via
  explode + self-join — the SQL-expressible oracle for the approximate
  tiers.

Scale notes: the shingle explode is the only row-multiplying stage
(x ~n_tokens); signatures/bands are fixed-width per doc. Hot LSH buckets
(boilerplate shingles) are capped by ``max_bucket`` to bound the
self-join quadratic blow-up — dropped buckets are reported, not silent.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegerType, LongType, StructField, StructType

from ip_filter_spark.arrow import combine, vec_matrix
from ip_filter_spark.functions.text import tokens_expr
from ip_filter_spark.lifetime import cut, pinned
from ip_filter_spark.operators.joins import broadcast_pair_join


def exact_dup_groups(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Groups of byte-identical documents: (content_sha256, dup_count,
    min_id) for every content seen more than once."""
    return (
        df.select(F.sha2(F.col(content_col), 256).alias("content_sha256"), F.col(id_col).alias("id"))
        .groupBy("content_sha256")
        .agg(F.count("*").alias("dup_count"), F.min("id").alias("min_id"))
        .where(F.col("dup_count") > 1)
    )


def dedup_exact(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Keep the lowest-id row per distinct content (deterministic)."""
    w = Window.partitionBy(F.sha2(F.col(content_col), 256)).orderBy(F.col(id_col))
    return df.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") == 1).drop("__rn")


def shingles_expr(text_col, n: int = 3):
    """Distinct token n-gram shingles as an array column (JVM-side).
    Documents shorter than n tokens contribute their whole text.

    Implementation note: built from ``arrays_zip`` of n shifted slices so
    the token split is evaluated O(n) times per ROW. The tempting
    ``transform(sequence(1, n_sh), i -> slice(toks, i, n))`` form
    re-evaluates the split per ELEMENT — O(tokens x shingles) per row,
    measured 4x slower on the 600k-doc corpus."""
    toks = tokens_expr(text_col)
    n_sh = F.size(toks) - (n - 1)
    zipped = F.arrays_zip(*[F.slice(toks, j + 1, F.greatest(n_sh, F.lit(0))) for j in range(n)])
    grams = F.transform(zipped, lambda s: F.concat_ws(" ", *[s[str(j)] for j in range(n)]))
    whole = F.array(F.array_join(toks, " "))
    return F.array_distinct(F.when(n_sh >= 1, grams).otherwise(whole))


MINHASH_P = 2147483647  # 2^31 - 1 (Mersenne): keeps all family arithmetic < 2^62
_BAND_K = 1_000_003  # band-key polynomial base


def _shingle_hashes_src(df: DataFrame, id_col: str, text_col: str, n: int, hash_fn: str) -> DataFrame:
    """(id, hs: array<long>) — per-row shingle base hashes, JVM-side.

    Two deliberate differences from ``explode(shingles_expr(...))`` that
    keep results identical but cut the r6-measured signature-build wall
    ~3x at 6M docs (guide §2.3/§4.2):

    - the token array is BOUND to a projected column first, then shingles
      index into it (``element_at``); the slice/zip form re-evaluated the
      tokenizing split per slice (measured 17-20 s -> 6.4 s for the
      shingle stage alone);
    - duplicates are RETAINED (no array_distinct): every consumer of this
      source aggregates with min (MinHash affine family, OPH bucket
      mins), and min over a multiset equals min over its distinct set, so
      the O(n^2-per-row) distinct pass bought nothing.

    Documents shorter than n tokens contribute their whole text, exactly
    as ``shingles_expr`` does."""
    b = _spread(df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__x"))).select(
        "id", tokens_expr(F.col("__x")).alias("__t")
    )
    toks = F.col("__t")
    n_sh = F.size(toks) - (n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(n_sh, F.lit(1))),
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + F.lit(j)) for j in range(n)]),
    )
    whole = F.array(F.array_join(toks, " "))
    sh = F.when(n_sh >= 1, grams).otherwise(whole)
    return b.select("id", F.transform(sh, lambda s: shingle_hash31(s, hash_fn)).alias("hs"))


def _spread(df: DataFrame) -> DataFrame:
    """Repartition a narrow projection up to session parallelism when its
    source yields fewer splits than cores. Signature building hashes
    every shingle with sha256 — heavily compute-bound per input byte —
    and a single-row-group parquet (or any unsplittable file, guide §2.5
    'input skew') pins the whole map-side pipeline to 1-2 tasks; one
    shuffle of the narrow (id, text) rows is noise next to the hashing
    it parallelizes. No-op when the source is already parallel enough
    (well-partitioned corpora at scale keep their layout; this never
    coalesces). Callers pass scan-rooted projections, so the
    getNumPartitions probe builds no job."""
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        cur = df.rdd.getNumPartitions()
    except Exception:
        return df
    return df.repartition(target) if cur < target else df


def minhash_coeffs(num_perm: int, seed: int = 11) -> tuple[list[int], list[int]]:
    """Deterministic affine-family coefficients (a_p, b_p) mod MINHASH_P,
    from a fixed LCG so the DuckDB oracle SQL (queries.minhash_lsh_sql)
    can embed the exact same integers."""
    a, b = [], []
    x = seed & 0x7FFFFFFFFFFFFFFF
    for _ in range(num_perm):
        x = (x * 6364136223846793005 + 1442695040888963407) & 0x7FFFFFFFFFFFFFFF
        a.append(1 + (x % (MINHASH_P - 1)))
        x = (x * 6364136223846793005 + 1442695040888963407) & 0x7FFFFFFFFFFFFFFF
        b.append(x % MINHASH_P)
    return a, b


def shingle_hash31(sh_col, hash_fn: str = "sha"):
    """Base hash of a shingle in [0, MINHASH_P), computed ONCE per shingle.

    'sha': first 60 bits of sha256 (hex → bigint) mod P — expressible
    verbatim in DuckDB (``CAST('0x' || substr(sha256(sh),1,15) AS
    BIGINT) % P``), which is what makes the whole LSH pipeline
    oracle-checkable. 'xx': xxhash64 mod P — cheapest JVM path."""
    if hash_fn == "sha":
        return F.conv(F.substring(F.sha2(sh_col, 256), 1, 15), 16, 10).cast("bigint") % F.lit(MINHASH_P)
    return F.pmod(F.xxhash64(sh_col), F.lit(MINHASH_P))


def _mod_p31(x):
    """``x % MINHASH_P`` for int64 numpy arrays with 0 <= x < 2^62, via
    two Mersenne folds + one conditional subtract (P = 2^31 - 1, so
    x mod P folds as (x >> 31) + (x & P)) — no integer division. The
    affine map's ``%`` was the signature kernel's hottest instruction
    (int64 division); the fold form computes the identical value (folds
    preserve the residue, the final value is in [0, P)) at shift/mask
    cost (r6, guide §1.2 'per-task work')."""
    x = (x >> 31) + (x & MINHASH_P)
    x = (x >> 31) + (x & MINHASH_P)
    return x - (x >= MINHASH_P) * MINHASH_P


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 128,
    shingle_n: int = 3,
    hash_fn: str = "sha",
    seed: int = 11,
) -> DataFrame:
    """(id, sig: array<int>[num_perm]) — component p is
    min((a_p * h(shingle) + b_p) mod P) over the doc's distinct shingles.

    One base hash per shingle + num_perm cheap integer affine maps —
    replaces round 1's num_perm independent string hashes per shingle
    (the whole-bench hot spot: 128 xxhash64(str) aggregates were 67% of
    BENCH_r01). The affine family over a Mersenne prime is the textbook
    universal-hash construction, so the MinHash estimator guarantees are
    unchanged.

    r6 shape: the per-doc mins are computed ROW-LOCALLY in a numpy
    ``mapInArrow`` kernel (one ``np.minimum.reduceat`` per permutation
    over the batch's flattened hash buffer) instead of explode + a
    num_perm-column min aggregate — the groupBy(id) SHUFFLE disappears
    entirely (shingles of a doc already live on its row) and the affine
    arithmetic leaves the interpreted-expression path. Byte-identical
    output (pytest-pinned vs the aggregate form): h < 2^31 and
    a_p < P keep every product < 2^62, so int64 numpy arithmetic is
    exact and the Mersenne-fold ``_mod_p31`` agrees with the SQL ``%``
    on non-negatives.

    Components are < P < 2^31, so the signature is emitted (and cached,
    and verified) as ``array<int>`` — r6: the int64 form made the
    operator's internal signature cache ~3.5 GB at 6M docs, pushing
    half of it (and the corpus cache) to disk; int32 halves every
    signature byte downstream (guide §2.3 'narrower types'). The
    INTEGERS are unchanged — band keys and agreement fractions are
    computed on the same values, so pair outputs are byte-identical."""
    import pyarrow as pa

    a_c, b_c = minhash_coeffs(num_perm, seed)
    src = _shingle_hashes_src(df, id_col, text_col, shingle_n, hash_fn)
    out_schema = StructType(
        [src.schema["id"], StructField("sig", ArrayType(IntegerType(), True), True)]
    )

    def kern(batches):
        A = np.array(a_c, dtype=np.int64)
        B = np.array(b_c, dtype=np.int64)
        for b in batches:
            ids = combine(b.column(0))
            hs = combine(b.column(1))
            n = len(ids)
            if n == 0:
                continue
            offs = hs.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
            flat = hs.values.to_numpy(zero_copy_only=False)[offs[0] : offs[-1]]
            starts = offs[:-1] - offs[0]
            sig = np.empty((n, num_perm), dtype=np.int32)
            for p in range(num_perm):
                v = _mod_p31(flat * A[p] + B[p])
                sig[:, p] = np.minimum.reduceat(v, starts)
            sig_arr = pa.ListArray.from_arrays(
                pa.array(np.arange(0, (n + 1) * num_perm, num_perm, dtype=np.int32)),
                pa.array(sig.reshape(-1)),
            )
            yield pa.RecordBatch.from_arrays([ids, sig_arr], names=["id", "sig"])

    return src.mapInArrow(kern, schema=out_schema)


def band_key_expr(sig_col, band: int, r: int, stride: int | None = None):
    """Polynomial fold of r signature components mod P — SQL-expressible
    band bucket key (round 1 used xxhash64, which DuckDB can't compute).

    Component selection: the classic consecutive slice
    [band*r, band*r + r) by default, or the INTERLEAVED set
    {band, band + stride, band + 2·stride, …} when ``stride`` is given.
    For independent components (classic MinHash) the two are
    equivalent; for OPH's rotation-densified signatures consecutive
    slices are poison — a run of empty buckets borrows from the SAME
    filled bucket, so adjacent components are perfectly correlated and
    a consecutive band collides with probability ~J instead of J^r
    (measured on the 600k bench corpus: max bucket 1277 and 1.86M rows
    over the cap consecutive, vs max 6 strided)."""
    comps = (
        [band + j * stride for j in range(r)]
        if stride is not None
        else [band * r + j for j in range(r)]
    )
    acc = F.lit(band + 1).cast("long")
    for c in comps:
        acc = (acc * F.lit(_BAND_K) + F.element_at(sig_col, c + 1)) % F.lit(MINHASH_P)
    return acc


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 128,
    bands: int = 32,
    threshold: float = 0.7,
    shingle_n: int = 3,
    max_bucket: int = 200,
    hash_fn: str = "sha",
    seed: int = 11,
) -> DataFrame:
    """Near-duplicate candidate pairs (id_a < id_b, est_jaccard >= threshold).

    est_jaccard is the MinHash agreement fraction — an unbiased Jaccard
    estimator with sd sqrt(J(1-J)/num_perm). With hash_fn='sha' the whole
    pipeline (shingle hash, affine family, band keys, bucket cap,
    agreement fraction) is replicated verbatim by the DuckDB oracle
    (queries.minhash_lsh_sql)."""
    assert num_perm % bands == 0
    with pinned() as pin:
        sig = pin(minhash_signatures(df, id_col, text_col, num_perm, shingle_n, hash_fn, seed))
        return _banded_pairs(sig, num_perm, bands, threshold, max_bucket)


def _bucket_pairs(batches, max_bucket: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Every in-bucket id pair of one shuffle partition's (bk, id) rows.

    Sorts the partition's plain int64 columns once; for every bucket of
    2..max_bucket rows it decodes all (i < j) pairs in closed form — no
    per-bucket Python loop. Returns (id_a, id_b, capped): one row per
    (bucket, pair), id_a <= id_b, plus the sorted distinct ids seen in an
    over-cap bucket (empty, at no cost, when no bucket is over the cap).
    An empty partition gives three empty arrays."""
    bks, idsl = [], []
    for b in batches:
        bks.append(combine(b.column(0)).to_numpy(zero_copy_only=False))
        idsl.append(combine(b.column(1)).to_numpy(zero_copy_only=False))
    empty = np.empty(0, dtype=np.int64)
    bk = np.concatenate(bks + [empty])
    ids = np.concatenate(idsl + [empty])
    if not len(bk):
        return empty, empty, empty
    order = np.lexsort((ids, bk))
    bk, ids = bk[order], ids[order]
    bnd = np.flatnonzero(np.r_[True, bk[1:] != bk[:-1], True])
    sizes = np.diff(bnd)
    keep = (sizes >= 2) & (sizes <= max_bucket)
    st, sz = bnd[:-1][keep], sizes[keep]
    over = sizes > max_bucket
    capped = np.unique(ids[np.repeat(over, sizes)]) if over.any() else empty
    # all (i < j) pairs of every kept bucket, closed-form: pair rank
    # t within its bucket decodes to j = row of the triangle, i = t -
    # j(j-1)/2 (float sqrt + integer guard — exact for t < 2^52)
    m = sz * (sz - 1) // 2
    goff = np.repeat(np.cumsum(m) - m, m)
    gst = np.repeat(st, m)
    t = np.arange(int(m.sum()), dtype=np.int64) - goff
    j = ((1.0 + np.sqrt(8.0 * t + 1.0)) / 2.0).astype(np.int64)
    lo = j * (j - 1) // 2
    j = np.where(lo > t, j - 1, j)
    lo = j * (j - 1) // 2
    j = np.where(t - lo >= j, j + 1, j)
    i = t - j * (j - 1) // 2
    return ids[gst + i], ids[gst + j], capped


def _banded_pairs(
    sig: DataFrame,
    n_components: int,
    bands: int,
    threshold: float,
    max_bucket: int,
    stride: int | None = None,
) -> DataFrame:
    """Shared LSH tail over any (id, sig: array<int>[n_components])
    signature table: polynomial band keys → capped in-bucket pairs →
    broadcast-pair agreement-fraction verify ≥ threshold.

    Candidate pairs in ONE shuffle: band keys → hash-repartition on the
    packed bucket key → per-task numpy bucket sort + vectorized
    in-bucket pair emission → distinct. r6 re-shape (guide §2.3/§4.2,
    measured at 6M docs / 96M band rows):

    - band keys are computed in a numpy ``mapInArrow`` kernel over the
      signature matrix (4.1 s vs 20-24 s as interpreted JVM
      array-expressions) and PACKED into one long ``bk = band·P + key``
      (bijective: key < P), so the shuffle carries (long, long) rows;
    - the former ``groupBy.collect_list`` materialized ~one list object
      per band row (buckets are overwhelmingly singletons) through an
      ObjectHashAggregate that degenerates to a spilling object sort at
      corpus scale; the kernel instead sorts its partition's plain int64
      columns once and emits pairs for 2..max_bucket buckets with a
      closed-form (rank → (i, j)) decode — no per-bucket Python loop,
      no JVM objects (measured 64 s → ~8 s for the pair stage);
    - verification joins the (cached) signature table exactly as
      before when the candidate list is broadcastable; past the
      broadcast guard it switches to two shuffled-hash joins (the pair
      side builds — KBs per task) + a numpy agreement-count kernel,
      with the final ``ROUND(agree/n, 6)`` left in JVM SQL so the
      est_jaccard doubles are bit-identical to the aggregate form.

    Per-task memory: the pair kernel buffers its shuffle partition's
    (bk, id) columns (16 B/row) — bounded by shuffle partition sizing
    (~128-512 MB partitions → ~that much numpy), same order as a sort
    buffer; answers depend only on partition CONTENT (it sorts), so AQE
    coalescing and task retries are safe."""
    import pyarrow as pa

    r = n_components // bands
    comp_ix = [
        [(b + j * stride) if stride is not None else (b * r + j) for j in range(r)]
        for b in range(bands)
    ]
    id_field = sig.schema["id"]
    numeric_id = id_field.dataType.typeName() in ("long", "integer", "short", "byte")
    if not numeric_id:  # generality fallback: the JVM bucket tail
        return _banded_pairs_jvm(sig, n_components, bands, threshold, max_bucket, stride)

    def band_kern(batches):
        comp = np.array(comp_ix, dtype=np.int64)  # (bands, r)
        for b in batches:
            ids_arr = combine(b.column(0))
            hs = combine(b.column(1))
            n = len(ids_arr)
            if n == 0:
                continue
            ids = ids_arr.to_numpy(zero_copy_only=False)
            S = vec_matrix(hs, "sig")
            bk = np.empty((n, bands), dtype=np.int64)
            for band in range(bands):
                acc = np.full(n, band + 1, dtype=np.int64)
                for c in comp[band]:
                    # acc < P (< 2^31) and _BAND_K < 2^20, so the product
                    # is < 2^51 and the Mersenne fold applies exactly
                    acc = _mod_p31(acc * _BAND_K + S[:, c])
                bk[:, band] = acc + band * MINHASH_P
            yield pa.RecordBatch.from_arrays(
                [pa.array(bk.reshape(-1)), pa.array(np.repeat(ids, bands))], names=["bk", "id"]
            )

    def pair_kern(batches):
        pa_ids, pb_ids, _ = _bucket_pairs(batches, max_bucket)
        # local pre-dedup (same pair from several bands in one task)
        # before the global distinct shuffle
        u = np.unique(np.stack([pa_ids, pb_ids], axis=1), axis=0)
        yield pa.RecordBatch.from_arrays([pa.array(u[:, 0]), pa.array(u[:, 1])], names=["id_a", "id_b"])

    def pair_count_kern(batches):
        """pair_kern variant for the min-band prefilter: emits each
        bucket pair with its LOCAL multiplicity (no cross-band pre-dedup
        — the global groupBy sums them into the pair's band-collision
        count) plus one (id, NULL, 0) marker row per id seen in an
        over-cap bucket (the prefilter's capped-id escape hatch)."""
        pa_ids, pb_ids, capped = _bucket_pairs(batches, max_bucket)
        u, nb = np.unique(np.stack([pa_ids, pb_ids], axis=1), axis=0, return_counts=True)
        id_a = np.concatenate([u[:, 0], capped])
        id_b_vals = np.concatenate([u[:, 1], np.zeros(len(capped), dtype=np.int64)])
        id_b_mask = np.concatenate([np.zeros(len(u), dtype=bool), np.ones(len(capped), dtype=bool)])
        counts = np.concatenate([nb.astype(np.int32), np.zeros(len(capped), dtype=np.int32)])
        yield pa.RecordBatch.from_arrays(
            [pa.array(id_a), pa.array(id_b_vals, mask=id_b_mask), pa.array(counts)],
            names=["id_a", "id_b", "nb"],
        )

    banded = sig.select("id", "sig").mapInArrow(band_kern, schema="bk long, id long")
    # min-band candidate prefilter (r6): a pair whose agreement fraction
    # clears ``threshold`` mismatches on at most floor((1-t)·n)
    # components, and each mismatching component can break at most ONE
    # band, so the pair must collide in >= bands - floor((1-t)·n) bands.
    # When that bound exceeds 1, counting band collisions per pair and
    # filtering BEFORE verification drops the junk candidates (measured
    # on the 6M-doc bench corpus: 10.8M candidates -> ~0.4M, taking the
    # verify stage from two corpus-scale shuffled-hash joins back to the
    # broadcast form). Exactness: the bound ignores the bucket cap, so a
    # pair with an id in ANY over-cap bucket bypasses the count filter
    # (>= 1 surviving collision suffices, exactly the old semantics) —
    # every pair the old path verified >= threshold is still verified.
    # The slack covers float error plus the ROUND(·, 6) window: a pair
    # with agree/n >= t - 5e-7 verifies, i.e. n·5e-7 more mismatches.
    # Declared gates (threshold 0.5) have min_bands <= 0 and keep the
    # original distinct path byte-for-byte.
    min_bands = bands - int(np.floor(n_components * (1.0 - threshold) + 1e-4 + n_components * 5e-7))
    if min_bands <= 1:
        pairs = (
            banded.repartition("bk")
            .mapInArrow(pair_kern, schema="id_a long, id_b long")
            .distinct()
        )
        return _verify_pairs(pairs, sig, n_components, threshold)
    with pinned() as pin:
        g = pin(
            banded.repartition("bk")
            .mapInArrow(pair_count_kern, schema="id_a long, id_b long, nb int")
            .groupBy("id_a", "id_b")
            .agg(F.sum("nb").alias("__nb"))
        )
        capped_ids = g.where(F.col("id_b").isNull()).select("id_a").distinct()
        cnt = g.where(F.col("id_b").isNotNull())
        n_capped = capped_ids.count()
        if n_capped == 0:
            pairs = cnt.where(F.col("__nb") >= min_bands).select("id_a", "id_b")
        elif n_capped > 4_000_000:
            # pathological corpus: the capped-id set itself is too big to
            # broadcast — disable the prefilter (old semantics, zero risk)
            pairs = cnt.select("id_a", "id_b")
        else:
            ca = capped_ids.select(F.col("id_a").alias("id_a"), F.lit(True).alias("__ca"))
            cb = capped_ids.select(F.col("id_a").alias("id_b"), F.lit(True).alias("__cb"))
            pairs = (
                cnt.join(F.broadcast(ca), "id_a", "left")
                .join(F.broadcast(cb), "id_b", "left")
                .where(
                    (F.col("__nb") >= min_bands)
                    | F.col("__ca").isNotNull()
                    | F.col("__cb").isNotNull()
                )
                .select("id_a", "id_b")
            )
        return _verify_pairs(pairs, sig, n_components, threshold)


def _verify_pairs(
    pairs: DataFrame,
    sig: DataFrame,
    n_components: int,
    threshold: float,
    max_broadcast_pairs: int = 2_000_000,
) -> DataFrame:
    """Agreement-fraction verification of candidate pairs against the
    signature table. Small candidate lists broadcast into two map-side
    passes over ``sig`` (``broadcast_pair_join``); large ones switch to
    two shuffled-hash joins with the PAIR side as build (KBs per task —
    the sort-merge fallback sorted candidate × signature rows twice) and
    count agreements in a numpy kernel. est_jaccard is always the JVM
    ``ROUND(agree / n, 6)`` so both paths emit bit-identical doubles.
    The output is cut: every banded-LSH operator ends here, so what its
    callers pinned (signatures, bucket counts) is released at return."""
    import pyarrow as pa

    # agreement counting always runs in the numpy kernel: the former
    # broadcast-path JVM ``aggregate(zip_with(...))`` is an INTERPRETED
    # higher-order expression (~per-element lambda dispatch) that
    # measured as the whole warm-rep hot spot at 300k pairs x 64
    # components (r6, guide §4.2); the kernel computes the identical
    # integer count, and est_jaccard stays a JVM ROUND so the doubles
    # are bit-identical.
    def agree_kern(batches):
        for bt in batches:
            n = bt.num_rows
            if n == 0:
                continue
            ia = combine(bt.column(bt.schema.get_field_index("id_a")))
            ib = combine(bt.column(bt.schema.get_field_index("id_b")))
            sa = combine(bt.column(bt.schema.get_field_index("sig_a")))
            sb = combine(bt.column(bt.schema.get_field_index("sig_b")))
            SA = vec_matrix(sa, "sig_a")
            SB = vec_matrix(sb, "sig_b")
            agree = (SA == SB).sum(axis=1).astype(np.int32)
            yield pa.RecordBatch.from_arrays([ia, ib, pa.array(agree)], names=["id_a", "id_b", "agree"])

    with pinned() as pin:
        pairs = pin(pairs)
        if pairs.count() <= max_broadcast_pairs:
            joined = broadcast_pair_join(pairs, sig, "sig", "sig_a", "sig_b")
        else:
            a = sig.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
            b = sig.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
            # first join: shuffled-hash with the PAIR side as build (16 B/row
            # — KB-scale hash tables per task; SMJ would sort the signature
            # rows). second join: left to the planner — its left input
            # already carries sig_a, so neither side is a safe in-memory
            # build at scale.
            joined = pairs.hint("shuffle_hash").join(a, "id_a").join(b, "id_b")
        counted = joined.mapInArrow(agree_kern, schema="id_a long, id_b long, agree int")
        return cut(
            counted.withColumn("est_jaccard", F.round(F.col("agree") / F.lit(n_components), 6))
            .where(F.col("est_jaccard") >= threshold)
            .select("id_a", "id_b", "est_jaccard")
        )


def _banded_pairs_jvm(
    sig: DataFrame,
    n_components: int,
    bands: int,
    threshold: float,
    max_bucket: int,
    stride: int | None = None,
) -> DataFrame:
    """The pre-r6 JVM bucket tail (collect_list + array pair expansion),
    kept for non-numeric id columns; same answers as the kernel tail."""
    r = n_components // bands
    band_keys = F.array(*[band_key_expr(F.col("sig"), b, r, stride) for b in range(bands)])
    banded = sig.select("id", F.posexplode(band_keys).alias("band", "key"))
    buckets = (
        banded.groupBy("band", "key")
        .agg(F.collect_list("id").alias("ids"))
        .where((F.size("ids") >= 2) & (F.size("ids") <= max_bucket))
    )
    ids_sorted = F.array_sort("ids")
    pair_arr = F.flatten(
        F.transform(
            ids_sorted,
            lambda x, i: F.transform(
                F.slice(ids_sorted, i + 2, F.size(ids_sorted)),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    pairs = buckets.select(F.explode(pair_arr).alias("p")).select("p.id_a", "p.id_b").distinct()
    return _verify_pairs(pairs, sig, n_components, threshold)


_OPH_BIG = 1 << 40  # densification min-encode base; dominates v + j*C (v < P/k)
_OPH_C = 1_000_003  # per-rotation de-correlation offset


def oph_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 64,
    shingle_n: int = 3,
    hash_fn: str = "sha",
) -> DataFrame:
    """One-Permutation-Hashing MinHash signatures (Li, Owen & Zhang,
    NIPS'12) with rotation densification (Shrivastava & Li, ICML'14).

    ONE base hash per shingle instead of ``minhash_signatures``'s
    num_perm affine maps: bucket = h mod k, in-bucket value v = h div k,
    component i = min v over the doc's shingles landing in bucket i.
    Empty buckets borrow from the nearest FILLED bucket to the right
    (circular), adding C per rotation step so borrowed bins don't
    collapse to identical values; the densified estimator is unbiased
    with variance comparable to k independent permutations (the papers'
    result) at ~k× less build-side arithmetic — at 10^12 documents the
    signature build dominates dedup cost, so this is the scale path.
    Same plan shape as ``minhash_signatures``: one explode + one groupBy
    with map-side partial min; densification is pure array expressions
    (no UDF, no extra shuffle).

    The rotation picks, for position i, the value at the FIRST filled
    bucket at or after i (circular) plus (distance)·C.  The DuckDB
    oracle (queries.oph_minhash_sql) expresses that as a min-encode —
    ``min over j of (j*BIG + v_j + j*C) % BIG`` — in list lambdas;
    Spark-side it's a vectorized numpy suffix-scan over the doubled
    bucket matrix (one ``np.minimum.accumulate`` per Arrow batch,
    O(rows·k)): the two forms compute identical integers (BIG = 2^40
    dominates v + j*C since v < P/k < 2^31, so the encode's argmin IS
    the nearest filled bucket).  The O(k²)-per-doc JVM lambda form
    measured 44 s over 600k short docs (avg 23/64 buckets filled — the
    regime densification exists for); the numpy scan is ~1000× fewer
    operations and rides the same Arrow path as the LPM probe kernel.

    Returns (id, sig: array<int>[k], n_filled: int).

    r6 shape: bucket mins are computed ROW-LOCALLY in the same numpy
    kernel that densifies (a scatter-min over row·k + (h mod k) slots per
    Arrow batch) from the shared per-row shingle-hash source — the
    explode, the k-column conditional min aggregate and its groupBy(id)
    SHUFFLE are gone, and the whole signature is one map-side pass.
    Identical integers: min per (doc, bucket) over the doc's shingle
    multiset equals the exploded distinct-aggregate (duplicates cannot
    change a min), and the densify arithmetic is byte-for-byte the
    previous kernel's."""
    import pyarrow as pa

    src = _shingle_hashes_src(df, id_col, text_col, shingle_n, hash_fn)
    # int32 signature (r6, same rationale as minhash_signatures): a
    # densified component is v + j·C with v < P/k and j < 2k, which is
    # < 2^31 for every practical k (asserted in the kernel) — halving
    # the cached signature table and the verify traffic.
    out_schema = StructType(
        [
            src.schema["id"],
            StructField("sig", ArrayType(IntegerType(), True), True),
            StructField("n_filled", IntegerType(), True),
        ]
    )
    EMPTY = 1 << 62  # > any v = h // k (h < 2^31)

    def kern(batches):
        pos_base = np.arange(2 * k)
        offs = np.arange(k)
        for b in batches:
            ids = combine(b.column(0))
            hs = combine(b.column(1))
            n = len(ids)
            if n == 0:
                continue
            offsets = hs.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
            flat = hs.values.to_numpy(zero_copy_only=False)[offsets[0] : offsets[-1]]
            offsets = offsets - offsets[0]
            counts = np.diff(offsets)
            ridx = np.repeat(np.arange(n, dtype=np.int64), counts)
            slot = ridx * k + (flat % k)
            Vf = np.full(n * k, EMPTY, dtype=np.int64)
            np.minimum.at(Vf, slot, flat // k)
            V = Vf.reshape(n, k)
            M = V < EMPTY
            nf = M.sum(axis=1)
            assert nf.min() >= 1, "doc with zero shingles cannot occur (the shingle source is total)"
            V = np.where(M, V, 0)
            # circular next-filled-at-or-after via suffix min on the doubled matrix
            Md = np.concatenate([M, M], axis=1)
            pos = np.where(Md, pos_base[None, :], 2 * k)
            nxt = np.minimum.accumulate(pos[:, ::-1], axis=1)[:, ::-1][:, :k]
            j = nxt - offs[None, :]
            sig = np.take_along_axis(np.concatenate([V, V], axis=1), nxt, axis=1) + j * _OPH_C
            assert sig.max() < 2**31, "densified component overflows int32 (k too extreme)"
            sig = sig.astype(np.int32)
            sig_arr = pa.ListArray.from_arrays(
                pa.array(np.arange(0, (n + 1) * k, k, dtype=np.int32)), pa.array(sig.reshape(-1))
            )
            yield pa.RecordBatch.from_arrays(
                [ids, sig_arr, pa.array(nf.astype(np.int32))], names=["id", "sig", "n_filled"]
            )

    return src.mapInArrow(kern, schema=out_schema)


def oph_minhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    shingle_n: int = 3,
    max_bucket: int = 200,
    hash_fn: str = "sha",
) -> DataFrame:
    """Near-dup candidate pairs from OPH signatures — the same banded
    LSH tail as ``minhash_lsh_pairs`` (shared ``_banded_pairs``) with
    the k-hash signature build replaced by the one-hash-per-shingle OPH
    build, and INTERLEAVED band components (stride = bands): rotation
    densification makes adjacent components correlated (a run of empty
    buckets borrows from one source), so consecutive slices would
    collide at ~J instead of J^r and blow the buckets up — see
    band_key_expr. est_jaccard is the densified-signature agreement
    fraction; with k a power of two the fraction is exact in binary, so
    the cross-engine ROUND(…, 6) comparison is exact."""
    assert k % bands == 0
    with pinned() as pin:
        sig = pin(oph_signatures(df, id_col, text_col, k, shingle_n, hash_fn).select("id", "sig"))
        return _banded_pairs(sig, k, bands, threshold, max_bucket, stride=bands)


SIMHASH_BITS = {"xx": 64, "sha": 60}


def simhash_signatures(
    df: DataFrame, id_col: str, text_col: str, seed: int = 7, hash_fn: str = "sha"
) -> DataFrame:
    """(id, simhash long). Uses explode+groupBy (one shuffle) instead of a
    64-term aggregate expression per row — Catalyst folds the bit-sums
    into a single pass over the exploded tokens.

    hash_fn 'sha' votes over the first 60 bits of sha256(token) — the
    per-token hash DuckDB can replicate (hex-slice → BIGINT), making the
    signature (and therefore the pairs output) fully oracle-checkable;
    'xx' is the 64-bit xxhash64 fast path.

    r6 shape: per-token hashes ride the ROW as an array (token array
    bound once, hashes via transform) and the bit votes are summed
    row-locally in a numpy ``mapInArrow`` kernel (one
    ``np.add.reduceat`` of the bit column per bit) — the token explode,
    the nbits-column conditional-sum aggregate and its groupBy(id)
    shuffle are gone. Identical integers: votes are exact ±1 sums over
    the SAME token multiset (kept as a multiset, exactly like the
    exploded form), and the final bit assembly reproduces the JVM
    expression bit for bit (uint64 view handles the xx path's sign
    bit)."""
    import pyarrow as pa

    nbits = SIMHASH_BITS[hash_fn]
    # zero-token docs are dropped exactly as the exploded form dropped
    # them (explode of an empty array emits no rows → no signature)
    b = _spread(df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__x"))).select(
        "id", tokens_expr(F.col("__x")).alias("__t")
    ).where(F.size("__t") > 0)
    if hash_fn == "sha":
        hf = lambda tok: F.conv(F.substring(F.sha2(tok, 256), 1, 15), 16, 10).cast("bigint")
    else:
        hf = lambda tok: F.xxhash64(tok, F.lit(seed))
    src = b.select("id", F.transform(F.col("__t"), hf).alias("hs"))
    out_schema = StructType([src.schema["id"], StructField("simhash", LongType(), True)])

    def kern(batches):
        for bt in batches:
            ids = combine(bt.column(0))
            hs = combine(bt.column(1))
            n = len(ids)
            if n == 0:
                continue
            offsets = hs.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
            flat = hs.values.to_numpy(zero_copy_only=False)[offsets[0] : offsets[-1]].view(np.uint64)
            offsets = offsets - offsets[0]
            starts = offsets[:-1]
            counts = np.diff(offsets)
            sim = np.zeros(n, dtype=np.uint64)
            for j in range(nbits):
                bit = ((flat >> np.uint64(j)) & np.uint64(1)).astype(np.int64)
                ones = np.add.reduceat(bit, starts)
                ones[counts == 0] = 0  # reduceat artifact on empty rows
                votes = 2 * ones - counts  # (+1 per set bit, -1 per clear)
                sim |= np.where(votes > 0, np.uint64(1) << np.uint64(j), np.uint64(0))
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(sim.view(np.int64))], names=["id", "simhash"]
            )

    return src.mapInArrow(kern, schema=out_schema)


def simhash_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3, seed: int = 7, hash_fn: str = "sha"
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance <= max_hamming (<= 3 for
    the 4-chunk pigeonhole blocking to be lossless)."""
    assert max_hamming <= 3, "4-chunk blocking guarantees recall only for hamming <= 3"
    nbits = SIMHASH_BITS[hash_fn]
    chunk_w = nbits // 4
    with pinned() as pin:
        sig = pin(simhash_signatures(df, id_col, text_col, seed, hash_fn))
        chunks = F.array(
            *[
                F.shiftright("simhash", chunk_w * c).bitwiseAND(F.lit((1 << chunk_w) - 1).cast("long"))
                for c in range(4)
            ]
        )
        blocked = sig.select("id", "simhash", F.posexplode(chunks).alias("chunk_ix", "chunk"))
        return cut(
            blocked.alias("a")
            .join(blocked.alias("b"), on=["chunk_ix", "chunk"], how="inner")
            .where(F.col("a.id") < F.col("b.id"))
            .select(
                F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"),
                F.col("a.simhash").alias("sim_a"),
                F.col("b.simhash").alias("sim_b"),
            )
            .distinct()
            .withColumn("hamming", F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))))
            .where(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming")
        )


def ngram_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int = 3, threshold: float = 0.5
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs — the oracle tier.

    J(a,b) = |Sa ∩ Sb| / |Sa ∪ Sb| over distinct shingle sets, computed
    by explode + self-join on shingle + per-pair count."""
    sh = df.select(
        F.col(id_col).alias("id"), F.explode(shingles_expr(F.col(text_col), shingle_n)).alias("sh")
    ).distinct()
    sizes = sh.groupBy("id").agg(F.count("*").alias("sz"))
    inter = (
        sh.alias("a")
        .join(sh.alias("b"), on="sh", how="inner")
        .where(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    out = (
        inter.join(sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a")), on="id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b")), on="id_b")
        .withColumn("jaccard", F.round(F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def prefix_filter_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int = 3, threshold: float = 0.5
) -> DataFrame:
    """EXACT Jaccard pairs via prefix filtering (AllPairs/PPJoin family,
    Bayardo et al. WWW'07; Xiao et al. WWW'08) — same semantics as
    ``ngram_jaccard_pairs`` but the self-join touches only each set's
    PREFIX under a global rarest-first shingle order, not every shingle.

    Losslessness: J(a,b) >= t implies |A∩B| >= t(|A|+|B|)/(1+t); with the
    length filter t·max(|A|,|B|) <= min(|A|,|B|) this gives
    |A∩B| >= ceil(t·|A|) and >= ceil(t·|B|). A set whose overlap with a
    partner is >= alpha must share one of its first |S| - alpha + 1
    elements under ANY fixed total order (pigeonhole), so joining on the
    per-set prefix of length |S| - ceil(t·|S|) + 1 generates every
    qualifying pair. Candidates are then verified exactly.

    Scale shape vs the oracle-tier ``ngram_jaccard_pairs`` (which
    self-joins ALL shingles and melts on frequent ones): the global
    order is RAREST-FIRST (document frequency asc), so prefixes hold the
    most selective shingles — frequent boilerplate shingles land in
    suffixes and never join. Stages: one groupBy for document frequency,
    one shuffle to rank each set, a prefix-only self-join (the quadratic
    stage, now bounded by rare-shingle postings), and a candidate-bounded
    verification join. Everything is JVM expressions — no Python UDF.
    """
    sh = df.select(
        F.col(id_col).alias("id"), F.explode(shingles_expr(F.col(text_col), shingle_n)).alias("sh")
    ).distinct()
    sizes = sh.groupBy("id").agg(F.count("*").alias("sz"))
    dfreq = sh.groupBy("sh").agg(F.count("*").alias("sh_df"))
    # rank each set's shingles rarest-first; ties broken by shingle text
    # so the global order is total (required by the prefix principle)
    pos = F.row_number().over(Window.partitionBy("id").orderBy("sh_df", "sh"))
    ranked = sh.join(dfreq, "sh").select("id", "sh", pos.alias("pos"))
    prefix = (
        ranked.join(sizes, "id")
        .where(F.col("pos") <= F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1)
        .select("id", "sh", "sz")
    )
    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"), on="sh")
        .where(
            (F.col("a.id") < F.col("b.id"))
            # length filter: J >= t forces t*max <= min
            & (F.greatest("a.sz", "b.sz") * threshold <= F.least("a.sz", "b.sz"))
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    inter = (
        cand.join(sh.select(F.col("id").alias("id_a"), "sh"), on="id_a")
        .join(sh.select(F.col("id").alias("id_b"), "sh"), on=["id_b", "sh"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a")), on="id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b")), on="id_b")
        .withColumn(
            "jaccard", F.round(F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6)
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _union_find(edge_rows) -> list[tuple]:
    """Driver-side union-find (union by size + path compression) for the
    small-graph fast path. Returns (node, component) with component =
    min node id in the component — the same label convention as the
    distributed propagation, so the two paths are interchangeable."""
    parent: dict = {}
    size: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for r in edge_rows:
        a, b = r[0], r[1]
        for v in (a, b):
            if v not in parent:
                parent[v] = v
                size[v] = 1
        ra, rb = find(a), find(b)
        if ra != rb:
            if size[ra] < size[rb]:
                ra, rb = rb, ra
            parent[rb] = ra
            size[ra] += size[rb]
    comp_min: dict = {}
    for v in parent:
        root = find(v)
        if root not in comp_min or v < comp_min[root]:
            comp_min[root] = v
    return [(v, comp_min[find(v)]) for v in parent]


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    hops_per_job: int = 2,
    checkpoint_dir: str | None = None,
    local_threshold: int = 200_000,
) -> DataFrame:
    """Dedup CLUSTERS from near-dup pairs: connected components by
    min-label propagation. Each hop every node takes the minimum label
    in its closed neighborhood — one join + one groupBy (two shuffles)
    per hop, converging in O(component diameter) hops. Near-dup
    components are near-cliques (diameter 1-3), so this beats
    star-contraction's constant factors there; a long-chain graph would
    want the Kiveris et al. (2014) alternating algorithm instead.

    ``hops_per_job`` propagation steps are composed lazily per
    materialization, so each Spark job covers several hops and the
    number of driver sync points is ceil(diameter / hops_per_job) + 1 —
    label propagation is monotone non-increasing, so "k hops changed
    nothing" implies "one hop changes nothing" and the convergence test
    stays sound. The default is 2 because composed hops still cost full
    join work after convergence: for near-clique graphs (diameter 1-2)
    the total is 2·h hops, so h=2 minimizes work while halving sync
    points vs h=1; raise it for long-chain graphs where diameter, not
    the confirm round, dominates. The convergence metric rides the SAME job as the
    checkpoint materialization via ``observe`` (no separate count scan).

    Fault tolerance: iteration state is cut (``lifetime.cut``); an
    hour-long 100-TB CC job passes ``checkpoint_dir`` for the reliable
    form. Returns (node, component) for every node that appears in an
    edge; component = min node id reachable.

    Size-adaptive dispatch (same policy as the LPM build's local/
    distributed switch): when the symmetrized edge list has at most
    ``local_threshold`` rows — known for free from the count that sizes
    the iteration's parallelism — the edges are collected and solved by
    driver-side union-find with path compression. Near-dup edge sets
    are usually orders of magnitude smaller than the corpus (pairs are
    capped and verified upstream), and at that size O(diameter) Spark
    jobs are pure scheduler latency: measured 3.5-5 s for a 600-edge
    graph vs ~0.3 s local, identical labels. The threshold bounds
    driver traffic to ~MBs (the same order as a broadcast-join build
    side); anything larger runs the distributed propagation.
    ``local_threshold=0`` forces the distributed path.
    """
    from pyspark.sql import Observation

    assert hops_per_job >= 1
    spark = edges.sparkSession
    # r6: cut the lineage BEFORE the symmetrizing union — the union's two
    # branches referenced the un-materialized edge plan, so the whole
    # upstream pair pipeline (simhash/minhash + verify) executed twice in
    # the materializing job (guide §1.2 'don't compute things twice');
    # union over the checkpointed half reads blocks.
    half = cut(edges.select(F.col(src).alias("a"), F.col(dst).alias("b")), checkpoint_dir)
    sym = half.union(half.select(F.col("b").alias("a"), F.col("a").alias("b")))
    # right-size the iteration's parallelism to the GRAPH, not the
    # session default: near-dup edge sets are usually orders smaller
    # than the corpus that produced them, and each hop is several
    # shuffle stages whose per-task overhead dominates on a small graph
    # (measured 5.8 s -> 1.5 s on a 600-edge graph at 32 partitions vs
    # 1). The count is ~free: sym was just materialized by the cut.
    n_sym = sym.count()
    if n_sym <= local_threshold:
        schema = StructType(
            [
                StructField("node", edges.schema[src].dataType, False),
                StructField("component", edges.schema[src].dataType, False),
            ]
        )
        return spark.createDataFrame(_union_find(sym.collect()), schema)
    parts = max(1, min(sym.rdd.getNumPartitions(), n_sym // 500_000 + 1))
    if parts < sym.rdd.getNumPartitions():
        sym = cut(sym.repartition(parts), checkpoint_dir)
    labels = sym.select(F.col("a").alias("node")).distinct().withColumn("label", F.col("node"))

    def hop(lbl, carry):
        nbr_min = (
            sym.join(lbl.select(F.col("node").alias("b"), F.col("label").alias("nl")), on="b")
            .groupBy(F.col("a").alias("node"))
            .agg(F.min("nl").alias("nbr_label"))
        )
        return lbl.join(nbr_min, on="node", how="left").select(
            "node", F.least("label", "nbr_label").alias("label"), *carry
        )

    for _ in range(0, max_iter, hops_per_job):
        stepped = labels.withColumn("old", F.col("label"))
        for _h in range(hops_per_job):
            stepped = hop(stepped, ["old"])
        obs = Observation()
        # eager lineage cut: ONE job executes all composed hops, persists
        # the result, and collects the convergence metric through the
        # observe node on the way (a LAZY cut + count() would lose the
        # metric — the count action runs over the checkpointed RDD, not
        # through the observed SQL plan)
        new_labels = cut(
            stepped.observe(obs, F.sum((F.col("label") != F.col("old")).cast("long")).alias("changed")),
            checkpoint_dir,
        )
        labels = new_labels.drop("old")
        changed = obs.get["changed"]
        if not changed:
            break
    else:
        raise RuntimeError(f"connected_components did not converge in {max_iter} hops")
    return labels.select("node", F.col("label").alias("component"))


def edit_distance_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: tuple[str, ...] = (),
    band_chars: int = 32,
    max_dist: int = 20,
    max_block: int = 64,
) -> DataFrame:
    """Blocked Levenshtein near-duplicate pairs — the character-level
    dedup tier (MinHash/SimHash are token/bit-level).

    Blocking: docs join only within the same (block_cols, length-band)
    block, band = length // band_chars. Like LSH banding this is
    recall-bounded by construction (a qualifying pair straddling a band
    boundary is not generated); precision is exact — every emitted pair
    really has edit distance <= max_dist. Within a block an
    |length-diff| <= max_dist prefilter applies the Levenshtein lower
    bound before the O(max_dist * len) banded distance computation
    (Spark's threshold-variant ``levenshtein`` early-exits above the
    bound; the DuckDB oracle computes the full distance and filters —
    identical results for every kept pair).

    Scale shape at 100 TB: blocks are capped at ``max_block`` docs by a
    DETERMINISTIC rule (row_number over sha256(text), id — replicable in
    ANSI SQL), so the quadratic stage is bounded at max_block²/2 per
    block no matter how skewed the length distribution; one Exchange on
    the block key, map-side pair generation, no driver involvement.
    """
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("txt"),
        *block_cols,
    ).withColumn("_band", F.floor(F.length("txt") / band_chars))
    w = Window.partitionBy(*block_cols, "_band").orderBy(F.sha2(F.col("txt"), 256), "id")
    capped = base.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") <= max_block)
    on = [*block_cols, "_band"]
    a = capped.alias("a")
    b = capped.alias("b")
    dist = F.levenshtein(F.col("a.txt"), F.col("b.txt"), max_dist)
    return (
        a.join(b, on=on)
        .where(
            (F.col("a.id") < F.col("b.id"))
            & (F.abs(F.length("a.txt") - F.length("b.txt")) <= max_dist)
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            dist.alias("edit_dist"),
        )
        .where((F.col("edit_dist") >= 0) & (F.col("edit_dist") <= max_dist))
    )


def duplicate_span_stats(
    df: DataFrame,
    text_col: str,
    id_col: str,
    window_tokens: int = 8,
    top_k: int = 20,
) -> DataFrame:
    """Exact-substring duplicate spans — the ExactSubstr method of
    Lee et al. 2021 ("Deduplicating Training Data Makes Language Models
    Better") re-expressed for Spark: instead of a suffix array (a global
    sorted structure that doesn't shard well), every document emits its
    ``window_tokens``-token rolling windows; a window whose exact text
    occurs more than once in the corpus is a duplicated span. This finds
    precisely the same repeated substrings of length >= window_tokens
    that the suffix-array scan reports (any longer shared substring
    contains a shared window), at the cost of emitting ~n_tokens windows
    per document.

    Plan shape: explode(ngrams) is the one row-multiplying stage; spans
    group by sha256(window) with map-side partial aggregation, so the
    shuffle carries one (32-byte key, count) pair per DISTINCT span per
    partition, not per occurrence. The top-k duplicated spans come out
    via TakeOrderedAndProject (never a global sort), totally ordered by
    (occurrences desc, docs desc, sha asc) so results are deterministic
    and engine-portable.

    Returns (span_sha, n_occurrences, n_docs) for the ``top_k`` most
    repeated spans.
    """
    from ip_filter_spark.functions.text import ngrams_expr

    spans = df.select(
        F.col(id_col).alias("id"),
        F.explode(ngrams_expr(text_col, window_tokens)).alias("span"),
    ).select("id", F.sha2(F.col("span"), 256).alias("span_sha"))
    return (
        spans.groupBy("span_sha")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.countDistinct("id").alias("n_docs"),
        )
        .where(F.col("n_occurrences") > 1)
        .orderBy(F.desc("n_occurrences"), F.desc("n_docs"), F.asc("span_sha"))
        .limit(top_k)
    )


def build_lsh_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    path: str,
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    hash_fn: str = "sha",
    seed: int = 11,
) -> None:
    """Persist a MinHash-LSH index for INCREMENTAL near-dup lookup:
    ``{path}/postings`` — (key, id, n_in_bucket) partitioned by band —
    and ``{path}/signatures`` — (id, sig). ``n_in_bucket`` (a window
    count materialized at build time) lets the query side drop hot
    boilerplate buckets with a predicate AT THE SCAN, no bucket-count
    job over the corpus at query time.

    This is the daily-ingest shape at 100 TB: the corpus is indexed
    ONCE; each new batch dedups against it without rescanning or
    reshuffling corpus text (see ``query_lsh_index``). Index size is
    O(corpus × bands) fixed-width rows — no text, no shingles."""
    assert num_perm % bands == 0
    r = num_perm // bands
    sig = minhash_signatures(df, id_col, text_col, num_perm, shingle_n, hash_fn, seed)
    band_keys = F.array(*[band_key_expr(F.col("sig"), b, r) for b in range(bands)])
    banded = sig.select("id", "sig", F.posexplode(band_keys).alias("band", "key"))
    w = Window.partitionBy("band", "key")
    banded.withColumn("n_in_bucket", F.count("*").over(w)).select(
        "band", "key", "id", "n_in_bucket"
    ).write.mode("overwrite").partitionBy("band").parquet(f"{path}/postings")
    sig.write.mode("overwrite").parquet(f"{path}/signatures")


def query_lsh_index(
    spark,
    path: str,
    new_df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    shingle_n: int = 3,
    max_bucket: int = 200,
    hash_fn: str = "sha",
    seed: int = 11,
) -> DataFrame:
    """Near-dup pairs (new_id, old_id, est_jaccard) between a NEW batch
    and a persisted ``build_lsh_index`` corpus — the incremental twin of
    ``minhash_lsh_pairs``. The corpus never shuffles:

    - the new batch's band rows BROADCAST against the postings scan
      (batch × bands rows — ingest batches are small relative to the
      corpus by definition), with capped buckets excluded by the
      ``n_in_bucket <= max_bucket`` predicate pushed into the parquet
      read;
    - candidate old ids (bounded by candidates, not corpus) broadcast
      back to semi-join the signatures read;
    - agreement verification joins the NEW side's signatures (broadcast)
      to that pruned old-signature scan.

    Params must match the index build (asserted against the stored
    signature width at verify time by the zip_with arity)."""
    assert num_perm % bands == 0
    r = num_perm // bands
    with pinned() as pin:
        # two downstream uses: band keys + verify join
        new_sig = pin(minhash_signatures(new_df, id_col, text_col, num_perm, shingle_n, hash_fn, seed))
        band_keys = F.array(*[band_key_expr(F.col("sig"), b, r) for b in range(bands)])
        new_banded = new_sig.select(
            F.col("id").alias("new_id"), F.posexplode(band_keys).alias("band", "key")
        )
        postings = spark.read.parquet(f"{path}/postings").where(
            F.col("n_in_bucket") <= max_bucket
        )
        cands = (
            postings.join(F.broadcast(new_banded), ["band", "key"])
            .where(F.col("id") != F.col("new_id"))
            .select("new_id", F.col("id").alias("old_id"))
            .distinct()
        )
        old_ids = cands.select(F.col("old_id").alias("id")).distinct()
        old_sig = spark.read.parquet(f"{path}/signatures").join(F.broadcast(old_ids), "id", "leftsemi")
        joined = (
            cands.join(old_sig.select(F.col("id").alias("old_id"), F.col("sig").alias("sig_old")), "old_id")
            .join(
                F.broadcast(new_sig.select(F.col("id").alias("new_id"), F.col("sig").alias("sig_new"))),
                "new_id",
            )
        )
        return cut(
            joined.withColumn(
                "est_jaccard",
                F.round(
                    F.aggregate(
                        F.zip_with("sig_new", "sig_old", lambda x, y: (x == y).cast("int")),
                        F.lit(0),
                        lambda acc, x: acc + x,
                    )
                    / F.lit(num_perm),
                    6,
                ),
            )
            .where(F.col("est_jaccard") >= threshold)
            .select("new_id", "old_id", "est_jaccard")
        )


def blocked_record_linkage(
    a: DataFrame,
    b: DataFrame,
    block_cols: list[str],
    name_a: str = "name_a",
    name_b: str = "name_b",
    max_dist: int = 6,
) -> DataFrame:
    """Two-source record linkage: equi-join candidate generation on the
    blocking key(s), Levenshtein scoring, threshold classification.

    The blocking join is the whole scale story — candidates are
    O(sum over blocks of |A_blk| * |B_blk|), never the O(|A| * |B|)
    cross join a raw similarity predicate would force Catalyst into
    (BroadcastNestedLoopJoin). Both sides shuffle once on the block
    key; scoring is a JVM expression (whole-stage codegen), no UDF.
    At 100 TB: salt or cap hot blocks exactly as edit_distance_pairs
    does for its (lang, band) blocks. Returns every candidate with its
    distance and the boolean decision, so callers can audit precision
    at any threshold without re-joining.
    """
    cand = a.join(b, block_cols)
    return cand.withColumn("dist", F.levenshtein(name_a, name_b)).withColumn(
        "is_match", F.col("dist") <= F.lit(int(max_dist))
    )
