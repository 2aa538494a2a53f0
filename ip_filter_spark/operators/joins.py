"""Sketch-accelerated joins — the runtime-filter pattern, explicit.

``bloom_semi_join`` is the canonical 100 TB application of a mergeable
Bloom filter (the reference's structure, ``/root/reference/prototype/
bloomfilter.py``, applied to join pruning): build a filter over the
build side's join keys (one scan, KB–MB blob), broadcast it, and drop
probe-side rows that cannot match BEFORE the join shuffle. Bloom has no
false negatives, so the prefilter never loses a true match; the ~fpp
fraction of false positives is removed by the exact join that follows —
the result is EXACTLY the plain semi-join, which is what makes the
operator oracle-checkable, while the shuffle moves only
(selectivity + fpp) of the probe table instead of all of it.

Spark's AQE can inject runtime filters for some plans; this operator
makes the decision explicit and works for any key expression.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ip_filter_spark.engine import SketchSpec, build_and_merge, probe_membership
from ip_filter_spark.lifetime import cut


def _flag_build_keys(probe, build, probe_key, build_key, fpp, expected_n, broadcast_build):
    """(probe + a ``__hit`` Bloom verdict column, the exact confirm
    side): the build side's distinct keys as ``__k``, counted for sizing
    unless ``expected_n`` is given, built into one Bloom filter that
    flags the probe rows, and returned (broadcast-hinted if asked) for
    the exact join that removes the false positives."""
    # the distinct-keys subplan feeds THREE consumers (the sizing count,
    # the filter build, the exact confirm join) — cut it so the
    # build-side scan + distinct shuffle run once (guide §5). A cut, not
    # a pin: the returned join reads it. The set is the build side's
    # distinct keys — broadcast-side scale by the operator's contract.
    keys = cut(build.select(F.col(build_key or probe_key).alias("__k")).distinct())
    n = expected_n if expected_n is not None else keys.count()
    spec = SketchSpec("bloom", {"fpp": fpp, "n": max(int(n), 1)})
    bf = build_and_merge(keys, [spec], key="__k")[spec.key()]
    flagged = probe_membership(probe, probe_key, bf, out_col="__hit")
    return flagged, F.broadcast(keys) if broadcast_build else keys


def bloom_semi_join(
    probe: DataFrame,
    build: DataFrame,
    probe_key: str,
    build_key: str | None = None,
    fpp: float = 1e-4,
    expected_n: int | None = None,
    broadcast_build: bool = True,
) -> DataFrame:
    """Rows of ``probe`` whose ``probe_key`` appears in ``build``'s
    ``build_key`` — semantically ``LEFT SEMI JOIN``, executed as
    Bloom-prefilter → exact semi-join.

    ``expected_n`` sizes the filter (defaults to a count of the build
    side — one cheap aggregate; pass it explicitly to skip that job).
    ``broadcast_build=True`` hints the exact confirm join (correct
    whenever the build side's distinct keys fit an executor; at larger
    build sides Spark falls back to a shuffle join on the ALREADY
    PRUNED probe side, which is the point of the prefilter).
    """
    flagged, confirm = _flag_build_keys(probe, build, probe_key, build_key, fpp, expected_n, broadcast_build)
    pruned = flagged.where(F.col("__hit")).drop("__hit")
    return pruned.join(confirm, on=pruned[probe_key] == confirm["__k"], how="left_semi")


def bloom_anti_join(
    probe: DataFrame,
    build: DataFrame,
    probe_key: str,
    build_key: str | None = None,
    fpp: float = 1e-4,
    expected_n: int | None = None,
    broadcast_build: bool = True,
) -> DataFrame:
    """Rows of ``probe`` whose ``probe_key`` does NOT appear in
    ``build``'s ``build_key`` — semantically ``LEFT ANTI JOIN`` /
    ``NOT EXISTS``, executed as Bloom-prefilter → exact anti-join.

    The asymmetry vs :func:`bloom_semi_join` is which side of the
    Bloom verdict is FREE: a Bloom *negative* is certain ("definitely
    not in the build set"), so bloom-negative probe rows are emitted
    immediately with no join at all. Only the bloom-*positive* rows
    — |true matches| + fpp·|probe| of them — need the exact anti-join
    confirm, because a positive may be a false positive. At 100 TB
    this shrinks the anti-join's shuffled/probed side from the whole
    probe table to roughly the matching subset, while the output stays
    EXACTLY the plain anti-join (no false negatives ⇒ nothing exact is
    lost; the confirm removes every false positive).
    """
    flagged, confirm = _flag_build_keys(probe, build, probe_key, build_key, fpp, expected_n, broadcast_build)
    certain_out = flagged.where(~F.col("__hit")).drop("__hit")
    candidates = flagged.where(F.col("__hit")).drop("__hit")
    confirmed_out = candidates.join(
        confirm, on=candidates[probe_key] == confirm["__k"], how="left_anti"
    )
    return certain_out.unionByName(confirmed_out)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    left_time: str,
    right_time: str,
    right_values: Sequence[str],
    matched_time_col: str = "matched_t",
    direction: str = "backward",
) -> DataFrame:
    """As-of join: for each left row, attach the right row with the same
    key and — ``direction='backward'`` (default) — the greatest
    ``right_time`` <= ``left_time``, or — ``direction='forward'`` — the
    smallest ``right_time`` >= ``left_time`` (both inclusive; pandas
    merge_asof's direction semantics). Left rows with no matching right
    row get nulls — i.e. ``ASOF LEFT JOIN`` semantics.

    Spark lacks a native as-of join; the naive form (non-equi join +
    window max) shuffles |L|·|matching R| intermediate rows. This is the
    union-scan form instead: tag both inputs, union them, and do ONE
    shuffle on the key with ONE sort by (time, tag); a running
    ``last(value, ignorenulls)`` carries each right row's payload
    forward to every left row until the next right row replaces it.
    Shuffle volume is exactly |L| + |R| rows — the minimum any
    partitioned as-of can move — and the whole operator is three Window
    expressions over one Exchange, no UDF.

    Right rows sort on the MATCHING side of left rows at equal time
    (backward: right tag 0 < left 1; forward: left 0 < right 1), making
    the match inclusive either way; forward carries payloads with a
    ``first(ignorenulls)`` over the mirrored (currentRow,
    unboundedFollowing) frame. ``right`` must be unique per (key, time) —
    pre-aggregate with max_by/groupBy otherwise (duplicate right rows at
    one (key, time) would make "the" matched row ill-defined in any
    engine; DuckDB's ASOF JOIN has the same requirement). ``right_values``
    must be non-null on right rows — the ignorenulls carry would
    otherwise splice an older row's value into a newer match.

    At 100 TB: keyed by ``left_on``, so the same skew story as any keyed
    shuffle — high-cardinality keys balance; per-key work is a sorted
    scan, spillable. Time-bucketed variants (shuffle on (key, coarse
    time bucket) with per-bucket seed rows) bound per-task runs when
    single keys are enormous; not needed at this corpus's shape.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be 'backward' or 'forward', got {direction!r}")
    fwd = direction == "forward"
    l_tag, r_tag = (0, 1) if fwd else (1, 0)
    lt = F.col(left_time).cast("timestamp").cast("long")
    rt = F.col(right_time).cast("timestamp").cast("long")
    nul = [F.lit(None).cast(right.schema[c].dataType).alias(c) for c in right_values]

    l_tagged = left.select(
        F.col(left_on).alias("__k"), lt.alias("__t"), F.lit(l_tag).alias("__tag"), "*", *nul,
        F.lit(None).cast("long").alias("__rt"),
    )
    left_cols = [c for c in left.columns]
    r_tagged = right.select(
        F.col(right_on).alias("__k"), rt.alias("__t"), F.lit(r_tag).alias("__tag"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left_cols],
        *right_values, rt.alias("__rt"),
    )
    both = l_tagged.unionByName(r_tagged)

    base = Window.partitionBy("__k").orderBy("__t", "__tag")
    if fwd:
        w = base.rowsBetween(Window.currentRow, Window.unboundedFollowing)
        pick = lambda c: F.first(c, ignorenulls=True)  # noqa: E731
    else:
        w = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        pick = lambda c: F.last(c, ignorenulls=True)  # noqa: E731
    carried = [pick(c).over(w).alias(c) for c in right_values]
    out = both.select(
        "__tag", *left_cols,
        pick("__rt").over(w).alias(matched_time_col), *carried
    )
    return out.where(F.col("__tag") == l_tag).drop("__tag")


def range_join(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    left_time: str,
    right_start: str,
    right_end: str,
    bucket_s: int,
    how: str = "inner",
) -> DataFrame:
    """Point-in-interval join: each left row paired with every right row
    of the same key whose ``[right_start, right_end]`` interval
    (inclusive both ends) contains ``left_time``.

    Catalyst plans a keyed non-equi join as an equi-join on the key with
    the range as a post-filter — correct, but every (key, point) meets
    every (key, interval) in the shuffle output before filtering, which
    degenerates on hot keys; keyless range predicates become
    BroadcastNestedLoopJoin outright. This is the bucketed equi-join
    rewrite instead (the interval-join shape Flink/Trino use): intervals
    explode to the coarse time buckets they overlap, points map to their
    single bucket, and the join becomes a plain equi-join on
    (key, bucket) — shuffle-partitioned by both key AND time, so a hot
    key's work is spread over its time range instead of landing on one
    task. The exact containment filter runs post-join; each matching
    pair meets in exactly one bucket (the point's), so no dedup step.

    ``bucket_s`` trades replication for pruning: each interval is
    replicated to ceil(span / bucket_s) + 1 buckets, and each bucket
    pairs points only with intervals overlapping that window — pick it
    near the typical interval span. Replication is linear in span, so
    enormous intervals (span >> bucket_s) should be pre-split or joined
    via a broadcast side instead.

    ``how``: 'inner' (matching pairs) or 'left' (every left row, nulls
    when no interval matches).
    """
    if how not in ("inner", "left"):
        raise ValueError(f"how must be 'inner' or 'left', got {how!r}")
    lt = F.col(left_time).cast("timestamp").cast("long")
    rs = F.col(right_start).cast("timestamp").cast("long")
    re_ = F.col(right_end).cast("timestamp").cast("long")

    l_b = left.withColumn("__lt", lt).withColumn("__b", F.floor(F.col("__lt") / bucket_s))
    r_b = (
        right.withColumn("__rs", rs)
        .withColumn("__re", re_)
        .where(F.col("__re") >= F.col("__rs"))
        .withColumn(
            "__b",
            F.explode(F.sequence(F.floor(F.col("__rs") / bucket_s), F.floor(F.col("__re") / bucket_s))),
        )
    )
    contained = (F.col("__lt") >= F.col("__rs")) & (F.col("__lt") <= F.col("__re"))
    on = (l_b[left_on] == r_b[right_on]) & (l_b["__b"] == r_b["__b"])
    if how == "inner":
        out = l_b.join(r_b, on=on).where(contained)
    else:
        out = l_b.join(r_b, on=on & contained, how="left")
    return out.drop("__lt", "__rs", "__re").drop(l_b["__b"]).drop(r_b["__b"])


def broadcast_pair_join(
    pairs: DataFrame,
    table: DataFrame,
    value_col: str,
    a_alias: str,
    b_alias: str,
    id_col: str = "id",
    max_broadcast_pairs: int = 2_000_000,
) -> DataFrame:
    """Attach ``table[value_col]`` to both ids of a candidate pair list —
    the broadcast-pair verify shape shared by ``dedup.minhash_lsh_pairs``
    and ``similarity.embedding_near_dup_pairs``.

    Broadcasts the bare pair list (16 B/pair) into TWO passes over
    ``table``, then joins the two candidate-sized sides on the pair key.
    Shuffle volume is O(candidates · value), never O(corpus · value) — at
    scale the value table (signatures, embeddings) is the big thing and
    candidates are comparatively few. The direct pairs⋈table⋈table form
    sort-merge-shuffles the full value table twice: AQE cannot convert
    those joins to broadcast because the cached table is an
    InMemoryRelation, which adaptive replanning does not see through.

    Guarded: an adversarial corpus can make the candidate list itself too
    big to broadcast, so count it (it is the small output of the bucket
    stage) and fall back to the shuffle form past ``max_broadcast_pairs``.
    Cut first: the guard count would otherwise run the whole candidate
    stage once for itself and again for the returned join.

    ``pairs`` must have columns (id_a, id_b); returns
    (id_a, id_b, a_alias, b_alias).
    """
    pairs = cut(pairs)
    if pairs.count() <= max_broadcast_pairs:
        a_side = table.join(F.broadcast(pairs), table[id_col] == pairs["id_a"]).select(
            "id_a", "id_b", F.col(value_col).alias(a_alias)
        )
        b_side = table.join(F.broadcast(pairs), table[id_col] == pairs["id_b"]).select(
            F.col("id_a").alias("__ba"),
            F.col("id_b").alias("__bb"),
            F.col(value_col).alias(b_alias),
        )
        return a_side.join(
            b_side, (F.col("id_a") == F.col("__ba")) & (F.col("id_b") == F.col("__bb"))
        ).drop("__ba", "__bb")
    return pairs.join(
        table.select(F.col(id_col).alias("id_a"), F.col(value_col).alias(a_alias)), on="id_a"
    ).join(table.select(F.col(id_col).alias("id_b"), F.col(value_col).alias(b_alias)), on="id_b")


def write_bucketed(
    df: DataFrame,
    table_name: str,
    key: str | Sequence[str],
    buckets: int,
    path: str | None = None,
    sort_by: str | Sequence[str] | None = None,
) -> None:
    """Persist ``df`` as a BUCKETED table: rows are hash-partitioned into
    ``buckets`` files per partition by ``key`` at write time, and the
    layout is recorded in the catalog. A later equi-join (or aggregation)
    on ``key`` between two tables bucketed the same way runs WITHOUT any
    Exchange — the shuffle was paid once at write time and amortizes over
    every subsequent query. This is the co-located-join half of the
    partitioning story (broadcast covers small dims, salting covers skew;
    bucketing covers repeated fact-fact joins on a stable key — at 100 TB
    re-shuffling two fact tables per query is the dominant cost).

    ``sort_by`` additionally sorts within buckets, letting the join skip
    its Sort. ``path`` makes the table external (data under ``path``,
    metadata in the catalog) — pass a scratch dir in tests.
    """
    keys = [key] if isinstance(key, str) else list(key)
    # pre-shuffle to one task per bucket: otherwise every input partition
    # writes a file per bucket (P × buckets small files — at 1000
    # executors that's the small-file problem at its worst)
    w = df.repartition(buckets, *[F.col(k) for k in keys]).write.mode("overwrite").bucketBy(
        buckets, *keys
    )
    if sort_by is not None:
        sb = [sort_by] if isinstance(sort_by, str) else list(sort_by)
        w = w.sortBy(*sb)
    if path is not None:
        w = w.option("path", path)
    w.format("parquet").saveAsTable(table_name)


def skew_split_join(
    big: DataFrame,
    small: DataFrame,
    big_key: str,
    small_key: str | None = None,
    capacity: int = 64,
    min_share: float = 0.01,
    how: str = "inner",
    hot_keys: Sequence[str] | None = None,
) -> DataFrame:
    """Sketch-GUIDED skew equi-join: a one-pass Misra–Gries summary over
    the big side's key (O(P · capacity) counter traffic, no groupBy
    shuffle — ``topk.mg_heavy_hitters``) detects the heavy keys at run
    time, then the join executes as a UNION of two disjoint plans:

    - HOT rows (key in the detected set, ≤ ``capacity`` literals) join
      against a BROADCAST of the small side's hot slice — the skewed
      mass never shuffles at all, and no single reducer ever sees a hot
      key's pile-up;
    - the long TAIL takes the ordinary shuffle equi-join, which is
      balanced precisely because the heavy keys were removed.

    Correctness does not depend on the sketch: the big side is
    PARTITIONED by hot-set membership, each branch computes the exact
    join for its rows, and the branches are disjoint — so the union is
    row-for-row the plain join for ANY hot-key set. MG's estimation
    error can only affect routing (a near-heavy key taking the shuffle
    path), never the result; detection uses the upper bound
    ``est + err >= min_share · n`` so no truly-heavy key is missed (MG
    guarantees est ≤ true ≤ est + err).

    This is the data-DRIVEN leg of the skew story: ``salted_skew_join``
    needs the caller to know the skew and replicates the whole small
    side ``n_salts``×; this operator measures it, broadcasts only the
    ≤ capacity hot slice, and leaves the tail's shuffle untouched (the
    differentiated-broadcast pattern; cf. AQE's skew-split, which only
    rewrites sort-merge joins it can already see). ``how`` supports
    ``inner`` and ``left`` (big-side-preserving; null keys route to the
    tail, where standard join semantics apply). Pass ``hot_keys``
    (stringified values) to skip detection — e.g. reuse of a summary
    built by an earlier query over the same table.
    """
    if how not in ("inner", "left"):
        raise ValueError(f"skew_split_join supports inner/left, got {how!r}")
    small_key = small_key or big_key
    clash = (set(big.columns) & set(small.columns)) - {small_key}
    if clash:
        raise ValueError(
            f"non-key columns present on both sides would be ambiguous: {sorted(clash)}; "
            "rename or drop them on one side first"
        )
    if hot_keys is None:
        from ip_filter_spark.operators.topk import mg_heavy_hitters

        sk = mg_heavy_hitters(big.where(F.col(big_key).isNotNull()), big_key, capacity=capacity)
        hot_keys = [k for k, _est, upper in sk.items() if upper >= min_share * max(sk.n_items, 1)]
    hot = [str(k) for k in hot_keys]
    out_cols = [c for c in big.columns] + [c for c in small.columns if c != small_key]

    # string-cast routing: MG summarizes stringified keys, and the SAME
    # Spark-side cast on both branches makes the partition exact for any
    # key type; null keys (cast -> null -> coalesce false) go to the tail
    is_hot = F.coalesce(F.col(big_key).cast("string").isin(hot) if hot else F.lit(False), F.lit(False))
    small_hot = small.where(F.col(small_key).cast("string").isin(hot) if hot else F.lit(False))
    renamed = small.withColumnRenamed(small_key, "__sk")
    hot_join = big.where(is_hot).join(
        F.broadcast(small_hot.withColumnRenamed(small_key, "__sk")),
        on=F.col(big_key) == F.col("__sk"),
        how=how,
    )
    tail_join = big.where(~is_hot).join(
        renamed, on=F.col(big_key) == F.col("__sk"), how=how
    )
    return hot_join.select(*out_cols).unionByName(tail_join.select(*out_cols))


def salted_skew_join(
    big: DataFrame,
    small: DataFrame,
    big_key: str,
    small_key: str | None = None,
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-defusing shuffle equi-join: the big side gets a per-ROW salt
    in ``[0, n_salts)``, the small side is replicated once per salt
    value, and the join runs on ``(key, salt)`` — so a hot key's rows
    spread over ``n_salts`` reducers instead of piling onto one. Each
    big row carries exactly one salt and matches exactly the one replica
    with that salt, so the output is row-for-row the plain join (the
    property the gate query's oracle checks).

    This is the third leg of the skew story (broadcast for dims that fit
    an executor, AQE skew-split for sort-merge joins it can see): use it
    when the small side is too big to broadcast and the big side's key
    distribution is known-skewed — at 100 TB one hot key on one reducer
    is the difference between minutes and hours. Cost: the small side is
    shuffled ``n_salts`` times its size; pick ``n_salts`` around the
    cluster's task-slots-per-hot-key target, not thousands.

    ``how`` supports ``inner`` and ``left`` (both big-side-preserving;
    a right/full join would need the salt on the other side).
    """
    if how not in ("inner", "left"):
        raise ValueError(f"salted_skew_join supports inner/left, got {how!r}")
    small_key = small_key or big_key
    clash = (set(big.columns) & set(small.columns)) - {small_key}
    if clash:
        raise ValueError(
            f"non-key columns present on both sides would be ambiguous: {sorted(clash)}; "
            "rename or drop them on one side first"
        )
    out_cols = [c for c in big.columns] + [c for c in small.columns if c != small_key]

    # per-row (not per-key!) salt: id-based so a single hot key still
    # round-robins across all n_salts reducers
    salted = big.withColumn("__salt", F.pmod(F.monotonically_increasing_id(), n_salts).cast("int"))
    replicas = small.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    ).withColumnRenamed(small_key, "__sk")
    # shuffle_hash hint: the whole point is the non-broadcast path (AQE
    # would happily broadcast a small test dim and hide the salt)
    joined = salted.join(
        replicas.hint("shuffle_hash"),
        on=(F.col(big_key) == F.col("__sk")) & (salted["__salt"] == replicas["__salt"]),
        how=how,
    )
    return joined.select(*out_cols)
