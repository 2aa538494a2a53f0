"""Structured Streaming gates: bounded replays under availableNow with watermark-exact oracles.

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
    QS,
    _t,
    _ensure_shipped,
    incremental_minhash_sql,
)

def stream_sketch_equivalence(spark, sf_dir):
    """Structured Streaming under the hard gate: an availableNow stream
    over the events table maintains HLL partials in a batch-id-keyed
    store (streaming/sketch_stream.py); the merged streaming sketch must
    (a) have ingested every row exactly once (n_items == batch count —
    the idempotent-store guarantee), (b) have processed >1 micro-batch
    (so this actually exercises incremental maintenance, not one batch),
    and (c) estimate within the published HLL bound of the exact batch
    answer. The exact distinct count is a full-value oracle column."""
    _ensure_shipped(spark)
    import shutil
    import tempfile

    from ip_filter_spark.engine import SketchSpec
    from ip_filter_spark.streaming import merged_sketches_from_store, stream_sketch_build

    batch = _t(spark, sf_dir, "events")
    work = tempfile.mkdtemp(prefix="ifs_stream_gate_")
    try:
        src = f"{work}/src"
        batch.repartition(4).write.parquet(src)
        stream = spark.readStream.schema(batch.schema).option("maxFilesPerTrigger", 2).parquet(src)
        spec = SketchSpec("hll", {"p": 14})
        q = stream_sketch_build(
            stream, [spec], store_dir=f"{work}/store", checkpoint_dir=f"{work}/ckpt",
            key=F.col("user_id").cast("string"),
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError("availableNow stream did not finish in 300 s")
        store = spark.read.parquet(f"{work}/store")
        n_batches = store.select("batch_id").distinct().count()
        hll = merged_sketches_from_store(spark, f"{work}/store", [spec])[spec.key()]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    n_rows = batch.count()
    exact = batch.select(F.countDistinct("user_id")).first()[0]
    est = float(hll.estimate())
    return spark.createDataFrame(
        [
            (
                int(exact),
                bool(hll.n_items == n_rows),
                bool(n_batches >= 2),
                bool(abs(est - exact) / exact <= hll.rel_error_bound()),
            )
        ],
        "exact_distinct long, ingested_exactly_once boolean, multi_batch boolean, within_error_bound boolean",
    )


STREAM_EQUIV_SQL = """
SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct, TRUE AS ingested_exactly_once,
       TRUE AS multi_batch, TRUE AS within_error_bound
FROM events
"""


def _stream_scratch(name: str, sf_dir: str) -> str:
    """Stable per-(query, sf) scratch dir for the streaming gates.

    The returned DataFrame must outlive the query function (the driver
    collects it later), so the stream's OUTPUT parquet cannot live in a
    mkdtemp removed in ``finally`` — that shape forced the old gates to
    ``collect()`` the stream's entire output through the driver, an
    O(sessions)/O(windows)/O(pairs) driver wall at 100x. Each invocation
    instead wipes and reuses its own fixed location; the replay source
    and checkpoint are still deleted eagerly, only ``out`` survives until
    the next invocation. The gate stays FULL-VALUE with zero driver-side
    row movement: output is returned as a distributed parquet scan."""
    import os
    import shutil
    import tempfile

    d = os.path.join(
        tempfile.gettempdir(), "ifs_stream_gates", f"{name}_{os.path.basename(os.path.normpath(sf_dir))}"
    )
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    return d


def _data_parts(src: str) -> set:
    """Parquet part-files currently in a replay-source dir (pre-sentinel)."""
    import glob as _glob

    return {p for p in _glob.glob(f"{src}/part-*") if not p.endswith(".crc")}


def _bump_sentinel_mtimes(src: str, before: set) -> None:
    """Make file-replay ordering explicit: set the mtime of every
    part-file written AFTER ``before`` (the sentinel files) to
    max(data mtimes) + 2 s, then assert strict ordering.  Replaces the
    old sleep(1.1) heuristic, which could tie under coarse mtime
    granularity or slow writes — a tie lets the sentinel replay first,
    jumps the watermark past all real event times, and silently drops
    every real row as late."""
    import os as _os

    news = _data_parts(src) - before
    data_max = max(_os.path.getmtime(p) for p in before)
    bumped = data_max + 2.0
    for p in news:
        _os.utime(p, (bumped, bumped))
    assert news and min(_os.path.getmtime(p) for p in news) > data_max, (
        f"sentinel part-files in {src} must strictly follow all data files"
    )


def stream_session_equivalence(spark, sf_dir):
    """Streaming sessionization under the hard gate, FULL-VALUE: the
    availableNow session_window stream (streaming/sessions.py) over a
    bounded replay of events must emit exactly the batch session table —
    the oracle is the same microsecond-exact DuckDB window replica that
    gates the batch operator (session_window_events).

    Replay mechanics: file order is not time order, so the watermark
    delay covers the full event-time span (nothing is ever 'late'), and
    a single later-than-everything sentinel row written as the LAST
    source file (FileStreamSource processes in mtime order) pushes the
    final watermark past every real session's end so the closing no-data
    micro-batch flushes them all. One sentinel suffices — watermarks are
    global, not per-key. The sentinel's own session stays in state and
    is filtered by key."""
    _ensure_shipped(spark)
    import shutil

    from ip_filter_spark.streaming import stream_session_stats

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = _t(spark, sf_dir, "events").select("user_id", F.col("ts").cast("timestamp").alias("ts"))
    mn, mx = ev.agg(F.min("ts"), F.max("ts")).first()
    delay_s = int((mx - mn).total_seconds()) + 3601
    work = _stream_scratch("sess", sf_dir)
    try:
        src = f"{work}/src"
        ev.repartition(4).write.parquet(src)
        before = _data_parts(src)
        sent = spark.createDataFrame([(-1,)], "user_id bigint").withColumn(
            "ts", F.lit(mx) + F.expr(f"INTERVAL {delay_s + 7200} SECONDS")
        )
        sent.coalesce(1).write.mode("append").parquet(src)
        _bump_sentinel_mtimes(src, before)
        stream = (
            spark.readStream.schema("user_id bigint, ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = stream_session_stats(
            stream, key="user_id", ts="ts", gap="30 minutes",
            watermark_delay=f"{delay_s} seconds",
            out_dir=f"{work}/out", checkpoint_dir=f"{work}/ckpt",
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError("availableNow session stream did not finish in 300 s")
    finally:
        shutil.rmtree(f"{work}/src", ignore_errors=True)
        shutil.rmtree(f"{work}/ckpt", ignore_errors=True)
    return (
        spark.read.parquet(f"{work}/out")
        # Drop ONLY the replay sentinel's session (key exactly -1); a
        # domain filter (>= 0) would also drop sessions of any real
        # negative-keyed user the batch oracle keeps.
        .where(~F.col("user_id").eqNullSafe(-1))
        .select(
            "user_id",
            F.col("session_window.start").cast("long").alias("start_s"),
            F.col("session_window.end").cast("long").alias("end_s"),
            F.col("n_events").cast("long").alias("n_events"),
        )
    )


def stream_windowed_counts(spark, sf_dir):
    """Watermarked tumbling-window aggregation under the hard gate,
    FULL-VALUE: an availableNow append-mode stream over a bounded replay
    of events runs streaming/sketch_stream.windowed_event_counts (1-hour
    windows, watermark-bounded state) and must emit exactly the batch
    per-(hour, event_type) counts and value sums — the oracle is the
    equivalent date_trunc GROUP BY in DuckDB.

    Replay mechanics (same as stream_session_equivalence): file order is
    not time order, so the watermark delay covers the full event-time
    span, and one later-than-everything sentinel row in the mtime-last
    source file pushes the final watermark past every real window's end;
    the closing no-data micro-batch then flushes all windows in append
    mode. The sentinel's own window never closes (the watermark stops
    short of it) and is filtered by key regardless."""
    _ensure_shipped(spark)
    import shutil

    from ip_filter_spark.streaming import windowed_event_counts

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = _t(spark, sf_dir, "events").select(
        F.col("ts").cast("timestamp").alias("ts"), "event_type", "value"
    )
    mn, mx = ev.agg(F.min("ts"), F.max("ts")).first()
    delay_s = int((mx - mn).total_seconds()) + 3601
    work = _stream_scratch("win", sf_dir)
    try:
        src = f"{work}/src"
        ev.repartition(4).write.parquet(src)
        before = _data_parts(src)
        sent = spark.createDataFrame([("__sentinel__", 0.0)], "event_type string, value double").select(
            (F.lit(mx) + F.expr(f"INTERVAL {delay_s + 7200} SECONDS")).alias("ts"),
            "event_type",
            "value",
        )
        sent.coalesce(1).write.mode("append").parquet(src)
        _bump_sentinel_mtimes(src, before)
        stream = (
            spark.readStream.schema("ts timestamp, event_type string, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        counts = windowed_event_counts(
            stream, ts_col="ts", key_col="event_type", window="1 hour",
            watermark=f"{delay_s} seconds",
        )
        q = (
            counts.writeStream.outputMode("append")
            .option("checkpointLocation", f"{work}/ckpt")
            .trigger(availableNow=True)
            .start(f"{work}/out", format="parquet")
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError("availableNow windowed stream did not finish in 300 s")
    finally:
        shutil.rmtree(f"{work}/src", ignore_errors=True)
        shutil.rmtree(f"{work}/ckpt", ignore_errors=True)
    return (
        spark.read.parquet(f"{work}/out")
        .where(F.col("event_type") != "__sentinel__")
        .select("window_start", "event_type", F.col("n").cast("long").alias("n"), "total_value")
    )


STREAM_WINDOWED_SQL = """
SELECT STRFTIME(DATE_TRUNC('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
FROM events
GROUP BY window_start, event_type
"""


def _replay_clicks_purchases(spark, sf_dir, name, with_sentinels):
    """Shared replay scaffolding for the stream-stream join gates: the
    clicks/purchases projections (timestamps floored to whole seconds so
    stream conditions and integer-BETWEEN oracles agree on boundaries)
    written as multi-file replay sources, the full-span watermark delay
    (file order is not time order, so nothing may ever be 'late'), and
    — when ``with_sentinels`` — one later-than-everything sentinel row
    appended as the mtime-LAST file of EACH side (key -1, equal
    timestamps, matching each other) to advance the min-of-sources
    watermark for gates whose emission rides the watermark. Returns
    ``(cs, ps, delay_s, work)``; the caller owns cleanup of ``work``."""

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = _t(spark, sf_dir, "events")
    sec = F.col("ts").cast("timestamp").cast("long")
    clicks = ev.where(F.col("event_type").isin("click", "view")).select(
        "event_id", "user_id", sec.cast("timestamp").alias("c_ts"), "event_type"
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        sec.cast("timestamp").alias("p_ts"),
    )
    mn, mx = ev.agg(F.min("ts"), F.max("ts")).first()
    delay_s = int((mx - mn).total_seconds()) + 3601
    work = _stream_scratch(name, sf_dir)
    clicks.repartition(3).write.parquet(f"{work}/clicks")
    purchases.repartition(3).write.parquet(f"{work}/purchases")
    if with_sentinels:
        before = {d: _data_parts(f"{work}/{d}") for d in ("clicks", "purchases")}
        sent_ts = F.lit(mx).cast("timestamp") + F.expr(f"INTERVAL {delay_s + 7200} SECONDS")
        spark.createDataFrame([(-1, -1)], "event_id bigint, user_id bigint").select(
            "event_id", "user_id", sent_ts.alias("c_ts"), F.lit("sentinel").alias("event_type")
        ).coalesce(1).write.mode("append").parquet(f"{work}/clicks")
        spark.createDataFrame([(-1, -1)], "purchase_id bigint, p_user bigint").select(
            "purchase_id", "p_user", sent_ts.alias("p_ts")
        ).coalesce(1).write.mode("append").parquet(f"{work}/purchases")
        for d in ("clicks", "purchases"):
            _bump_sentinel_mtimes(f"{work}/{d}", before[d])
    cs = (
        spark.readStream.schema("event_id bigint, user_id bigint, c_ts timestamp, event_type string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{work}/clicks")
    )
    ps = (
        spark.readStream.schema("purchase_id bigint, p_user bigint, p_ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{work}/purchases")
    )
    return cs, ps, delay_s, work


def stream_range_join_equivalence(spark, sf_dir):
    """Stream-stream interval join under the hard gate, FULL-VALUE: two
    availableNow streams (purchases, clicks/views replayed from disjoint
    file sets, one file per micro-batch so matches genuinely cross
    micro-batch state) run streaming/joins.stream_interval_join and must
    emit exactly the batch interval join — the oracle is the SAME DuckDB
    BETWEEN-join SQL that gates the batch operator
    (range_join_purchase_windows).

    Inner stream-stream joins emit on match, not on watermark, so no
    sentinel is needed; the full-span watermark delay only reflects that
    replay file order is not time order (production uses the stream's
    real disorder bound and gets bounded state)."""
    _ensure_shipped(spark)
    import shutil

    from ip_filter_spark.streaming import stream_interval_join

    cs, ps, delay_s, work = _replay_clicks_purchases(spark, sf_dir, "rj", with_sentinels=False)
    try:
        q = stream_interval_join(
            cs, ps, left_on="user_id", right_on="p_user", left_ts="c_ts", right_ts="p_ts",
            upper_s=3600, watermark_left=f"{delay_s} seconds", watermark_right=f"{delay_s} seconds",
            out_dir=f"{work}/out", checkpoint_dir=f"{work}/ckpt",
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError("availableNow stream-stream join did not finish in 300 s")
    finally:
        shutil.rmtree(f"{work}/clicks", ignore_errors=True)
        shutil.rmtree(f"{work}/purchases", ignore_errors=True)
        shutil.rmtree(f"{work}/ckpt", ignore_errors=True)
    return spark.read.parquet(f"{work}/out").select(
        "event_id",
        "user_id",
        F.col("c_ts").cast("long").alias("ts_s"),
        "event_type",
        "purchase_id",
        F.col("p_ts").cast("long").alias("purchase_s"),
        (F.col("c_ts").cast("long") - F.col("p_ts").cast("long")).alias("delay_s"),
    )


def stream_outer_join_nulls(spark, sf_dir):
    """Stream-stream LEFT OUTER interval join under the hard gate,
    FULL-VALUE: the same clicks/purchases replay as
    ``stream_range_join_equivalence``, but joined ``left_outer`` — every
    click with no purchase in its preceding hour must ALSO appear, with
    NULL purchase columns. This is the semantically hard half of
    stream-stream joins: a null row may only be emitted once the
    watermark PROVES no future match can arrive, so emission rides the
    watermark, not the match. The oracle is the batch LEFT JOIN form of
    the same DuckDB BETWEEN-join SQL.

    Replay mechanics: the global watermark is the MINIMUM across both
    sources, so a later-than-everything sentinel row is appended as the
    LAST file of EACH side (FileStreamSource replays in mtime order);
    the closing no-data micro-batch then evicts and emits every real
    unmatched click. The two sentinels carry key -1 and equal timestamps
    (they match each other, keeping neither in state) and are filtered
    from the output by key. State at scale: bounded by rows inside one
    watermark horizon per side — the full-span delay here only reflects
    that replay file order is not time order; production streams use
    their real disorder bound."""
    _ensure_shipped(spark)
    import shutil

    from ip_filter_spark.streaming import stream_interval_join

    cs, ps, delay_s, work = _replay_clicks_purchases(spark, sf_dir, "oj", with_sentinels=True)
    try:
        q = stream_interval_join(
            cs, ps, left_on="user_id", right_on="p_user", left_ts="c_ts", right_ts="p_ts",
            upper_s=3600, watermark_left=f"{delay_s} seconds", watermark_right=f"{delay_s} seconds",
            out_dir=f"{work}/out", checkpoint_dir=f"{work}/ckpt", how="left_outer",
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError("availableNow outer stream-stream join did not finish in 300 s")
    finally:
        shutil.rmtree(f"{work}/clicks", ignore_errors=True)
        shutil.rmtree(f"{work}/purchases", ignore_errors=True)
        shutil.rmtree(f"{work}/ckpt", ignore_errors=True)
    return (
        spark.read.parquet(f"{work}/out")
        # Drop ONLY the replay sentinels by their exact signature; a
        # domain filter like user_id >= 0 would also silently drop real
        # NULL-/negative-keyed clicks the batch LEFT JOIN oracle keeps.
        .where(
            ~(
                F.col("event_type").eqNullSafe("sentinel")
                & F.col("event_id").eqNullSafe(-1)
            )
        )
        .select(
            "event_id",
            "user_id",
            F.col("c_ts").cast("long").alias("ts_s"),
            "event_type",
            "purchase_id",
            F.col("p_ts").cast("long").alias("purchase_s"),
            F.col("purchase_id").isNotNull().alias("matched"),
        )
    )


STREAM_OUTER_JOIN_SQL = """
WITH clicks AS (
  SELECT event_id, user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS ts_s, event_type
  FROM events WHERE event_type IN ('click', 'view')
), purchases AS (
  SELECT event_id AS purchase_id, user_id AS p_user,
         CAST(FLOOR(epoch(ts)) AS BIGINT) AS purchase_s
  FROM events WHERE event_type = 'purchase'
)
SELECT c.event_id, c.user_id, c.ts_s, c.event_type,
       p.purchase_id, p.purchase_s,
       p.purchase_id IS NOT NULL AS matched
FROM clicks c
LEFT JOIN purchases p
  ON c.user_id = p.p_user
 AND c.ts_s BETWEEN p.purchase_s AND p.purchase_s + 3600
"""


def stream_join_then_window(spark, sf_dir):
    """CHAINED stateful streaming operators under the hard gate,
    FULL-VALUE: one streaming query runs a stream-stream interval join
    (clicks ⋈ purchases within 1 h, both sides watermarked) and feeds
    the joined pairs straight into a watermarked tumbling-window
    aggregate — per-(hour, event_type) pair counts. Two stateful stages
    in a single micro-batch pipeline: the join buffers both sides and
    emits on match; the left event-time column carries its watermark
    THROUGH the join, so the downstream window knows when it may close.
    The oracle is the batch join + hourly GROUP BY in DuckDB; window
    starts compare as exact epoch-second integers (floor to hour), no
    timestamp formatting or timezone in the hash.

    Flush mechanics: the inner join emits on match, but the downstream
    append-mode aggregate only emits a window once the watermark passes
    its end — so the replay needs the per-side far-future sentinels
    (min-of-sources watermark), which join each other into a pair whose
    own window never closes and is filtered by key. At scale the state
    is the join's two watermark horizons plus one open window per key —
    both bounded by the disorder delay, not stream length."""
    _ensure_shipped(spark)
    import shutil

    from ip_filter_spark.streaming import interval_join

    cs, ps, delay_s, work = _replay_clicks_purchases(spark, sf_dir, "jw", with_sentinels=True)
    try:
        joined = interval_join(
            cs, ps, left_on="user_id", right_on="p_user", left_ts="c_ts", right_ts="p_ts",
            upper_s=3600, watermark_left=f"{delay_s} seconds", watermark_right=f"{delay_s} seconds",
        )
        agg = (
            joined.groupBy(F.window("c_ts", "1 hour"), "event_type")
            .agg(F.count("*").alias("n_pairs"))
            .select(
                F.col("window.start").cast("long").alias("window_s"),
                "event_type",
                F.col("n_pairs").cast("long").alias("n_pairs"),
            )
        )
        q = (
            agg.writeStream.format("parquet")
            .outputMode("append")
            .option("path", f"{work}/out")
            .option("checkpointLocation", f"{work}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError("availableNow chained join+window stream did not finish in 300 s")
    finally:
        shutil.rmtree(f"{work}/clicks", ignore_errors=True)
        shutil.rmtree(f"{work}/purchases", ignore_errors=True)
        shutil.rmtree(f"{work}/ckpt", ignore_errors=True)
    return spark.read.parquet(f"{work}/out").where(F.col("event_type") != "sentinel")


STREAM_JOIN_WINDOW_SQL = """
WITH r AS (
  SELECT event_id AS purchase_id, user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS s
  FROM events WHERE event_type = 'purchase'),
l AS (
  SELECT event_id, user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS t, event_type
  FROM events WHERE event_type IN ('click', 'view'))
SELECT (l.t // 3600) * 3600 AS window_s, l.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM l JOIN r ON l.user_id = r.user_id AND l.t BETWEEN r.s AND r.s + 3600
GROUP BY window_s, l.event_type
"""


def stream_dedup_docs(spark, sf_dir):
    """Streaming exact dedup under the hard gate: the documents table is
    replayed TWICE (two file sets, maxFilesPerTrigger=1, so every doc
    arrives again in a later micro-batch) through
    streaming/dedup.stream_exact_dedup; the dropDuplicates state must
    emit each content sha exactly once. n_unique is a full-value oracle
    column (= batch COUNT(DISTINCT sha256(text))); no per-key breakdown
    on purpose — WHICH copy of a cross-source duplicate survives is
    first-arrival (nondeterministic under file scheduling), the COUNT of
    survivors is not. all_rows_ingested proves both copies actually
    flowed through the query (recentProgress row counts — the dropped
    second copy is otherwise indistinguishable from an unread one);
    multi_batch proves the state crossed micro-batch boundaries."""
    _ensure_shipped(spark)
    import shutil
    import tempfile

    from ip_filter_spark.streaming import stream_exact_dedup

    d = _t(spark, sf_dir, "documents").select("doc_id", "source", F.sha2("text", 256).alias("sha"))
    n_docs = d.count()
    work = tempfile.mkdtemp(prefix="ifs_stream_dedup_")
    try:
        src = f"{work}/src"
        d.repartition(4).write.parquet(src)
        d.repartition(4).write.mode("append").parquet(src)  # the duplicate replay
        stream = (
            spark.readStream.schema("doc_id bigint, source string, sha string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = stream_exact_dedup(
            stream, ["sha"], out_dir=f"{work}/out", checkpoint_dir=f"{work}/ckpt"
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError("availableNow dedup stream did not finish in 300 s")
        ingested = sum(p["numInputRows"] for p in (q.recentProgress or []))
        n_batches = sum(1 for p in (q.recentProgress or []) if p["numInputRows"])
        n_unique = spark.read.parquet(f"{work}/out").count()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        [(int(n_unique), bool(ingested == 2 * n_docs), bool(n_batches >= 2))],
        "n_unique long, all_rows_ingested boolean, multi_batch boolean",
    )


STREAM_DEDUP_SQL = """
SELECT COUNT(DISTINCT sha256(text)) AS n_unique,
       TRUE AS all_rows_ingested, TRUE AS multi_batch
FROM documents
"""


def stream_mg_heavy_hitters(spark, sf_dir):
    """Streaming Misra–Gries under the hard gate: an availableNow stream
    over events maintains per-batch MG partials in the idempotent
    batch-id-keyed store (streaming/sketch_stream.py); the merged
    summary must (a) have ingested every row exactly once (MG counter
    sums are additive, so this is exactly the double-count failure the
    overwrite protocol prevents — ADVICE r2), (b) span >1 micro-batch,
    and (c) satisfy the mergeable-summaries deterministic bounds against
    exact counts (est <= true <= est + err for every reported key; every
    key above n/(capacity+1) reported — Agarwal et al., PODS'12),
    verified distributed via mg_bounds_verdict. The exact top-1 count is
    a full-value oracle column."""
    _ensure_shipped(spark)
    import shutil
    import tempfile

    from ip_filter_spark.operators.topk import mg_bounds_verdict
    from ip_filter_spark.streaming import merged_heavy_hitters, stream_heavy_hitters

    batch = _t(spark, sf_dir, "events")
    work = tempfile.mkdtemp(prefix="ifs_stream_mg_gate_")
    try:
        src = f"{work}/src"
        batch.repartition(4).write.parquet(src)
        stream = spark.readStream.schema(batch.schema).option("maxFilesPerTrigger", 2).parquet(src)
        q = stream_heavy_hitters(
            stream, "user_id", store_dir=f"{work}/store", checkpoint_dir=f"{work}/ckpt", capacity=64
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError("availableNow stream did not finish in 300 s")
        store = spark.read.parquet(f"{work}/store")
        n_batches = store.select("batch_id").distinct().count()
        sk = merged_heavy_hitters(spark, f"{work}/store")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    n_rows = batch.count()
    verdict = mg_bounds_verdict(batch, "user_id", sk, n_rows).first()
    exact_top1 = batch.groupBy("user_id").count().agg(F.max("count")).first()[0]
    return spark.createDataFrame(
        [
            (
                int(exact_top1),
                bool(sk.n_items == n_rows),
                bool(n_batches >= 2),
                bool(verdict.bounds_hold),
                bool(verdict.heavy_keys_kept),
            )
        ],
        "exact_top1_count long, ingested_exactly_once boolean, multi_batch boolean, "
        "bounds_hold boolean, heavy_keys_kept boolean",
    )


STREAM_MG_SQL = """
SELECT CAST(MAX(cnt) AS BIGINT) AS exact_top1_count, TRUE AS ingested_exactly_once,
       TRUE AS multi_batch, TRUE AS bounds_hold, TRUE AS heavy_keys_kept
FROM (SELECT COUNT(*) AS cnt FROM events GROUP BY user_id)
"""


def stream_cdc_equivalence(spark, sf_dir):
    """Streaming CDC under the hard gate, FULL-VALUE: an availableNow
    stream over a multi-file replay of events folds every micro-batch
    into a persisted snapshot (streaming/cdc_stream.py — batch-id-keyed
    dirs, O(delta + snapshot) per batch, history never rescanned), and
    the FINAL snapshot must equal the latest-state of the full history —
    the SAME one-window DuckDB oracle that gates the batch operator
    (cdc_upsert_events). maxFilesPerTrigger=1 forces ≥4 real incremental
    merges, so the gate exercises the snapshot-advance path, not a
    single-batch degenerate. No watermark is involved: foreachBatch sees
    whole batches and the upsert is order-insensitive across batches for
    a latest-wins merge (later order keys win wherever they arrive)."""
    _ensure_shipped(spark)
    import shutil

    from ip_filter_spark.streaming.cdc_stream import latest_snapshot, stream_upsert_snapshot

    ev = _t(spark, sf_dir, "events")
    work = _stream_scratch("cdc", sf_dir)
    try:
        src = f"{work}/src"
        ev.repartition(4).write.parquet(src)
        stream = (
            spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(src)
        )
        q = stream_upsert_snapshot(
            stream,
            ["user_id"],
            ["ts", "event_id"],
            snapshot_root=f"{work}/out",
            checkpoint_dir=f"{work}/ckpt",
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError("availableNow CDC stream did not finish in 300 s")
    finally:
        shutil.rmtree(f"{work}/src", ignore_errors=True)
        shutil.rmtree(f"{work}/ckpt", ignore_errors=True)
    return latest_snapshot(spark, f"{work}/out").select(
        "user_id",
        F.col("ts").alias("last_ts"),
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_type"),
        F.col("value").alias("last_value"),
    )


def stream_ddsketch_quantiles(spark, sf_dir):
    """Streaming quantiles: an availableNow stream over orders maintains
    DDSketch partials in the batch-id-keyed idempotent store; because
    DDSketch merge is EXACT (linear bucket addition), the stream-merged
    sketch is bucket-identical to a single-pass batch build, so the
    deterministic value-relative guarantee survives incremental
    maintenance verbatim. Gate: every row ingested exactly once, >1
    micro-batch actually processed, and each quantile estimate within
    1.05*alpha of the exact batch quantile (same fencepost as the SQL
    twin)."""
    _ensure_shipped(spark)
    import shutil
    import tempfile

    from ip_filter_spark.engine import SketchSpec
    from ip_filter_spark.operators.quantiles import exact_quantiles
    from ip_filter_spark.streaming import merged_sketches_from_store, stream_sketch_build

    ALPHA = 0.01
    batch = _t(spark, sf_dir, "orders").withColumn(
        "v", F.col("o_totalprice").cast("double")
    )
    work = tempfile.mkdtemp(prefix="ifs_stream_dd_")
    try:
        src = f"{work}/src"
        batch.repartition(4).write.parquet(src)
        stream = spark.readStream.schema(batch.schema).option("maxFilesPerTrigger", 2).parquet(src)
        spec = SketchSpec("ddsketch", {"alpha": ALPHA}, on="value")
        q = stream_sketch_build(
            stream, [spec], store_dir=f"{work}/store", checkpoint_dir=f"{work}/ckpt",
            value="v",
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError("availableNow stream did not finish in 300 s")
        store = spark.read.parquet(f"{work}/store")
        n_batches = store.select("batch_id").distinct().count()
        sk = merged_sketches_from_store(spark, f"{work}/store", [spec])[spec.key()]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    n_rows = batch.count()
    est = dict(zip([float(x) for x in QS], (float(v) for v in sk.quantile(QS))))
    exact = exact_quantiles(batch, "v", QS)
    est_col = F.lit(None).cast("double")
    for qq, v in est.items():
        est_col = F.when(F.col("q") == qq, F.lit(v)).otherwise(est_col)
    return exact.select(
        "q",
        F.col("value").alias("exact_value"),
        (F.abs(est_col - F.col("value")) <= F.lit(ALPHA * 1.05) * F.abs(F.col("value"))).alias(
            "within_rel_bound"
        ),
        F.lit(n_batches > 1).alias("multi_batch"),
        F.lit(sk.n_items == n_rows).alias("ingested_once"),
    ).orderBy("q")


STREAM_DDSKETCH_SQL = f"""
WITH sorted AS (
  SELECT CAST(o_totalprice AS DOUBLE) AS value,
         ROW_NUMBER() OVER (ORDER BY CAST(o_totalprice AS DOUBLE)) AS rn
  FROM orders),
n AS (SELECT COUNT(*) AS c FROM orders),
qs(q) AS (VALUES {", ".join(f"({q})" for q in QS)})
SELECT CAST(q AS DOUBLE) AS q, value AS exact_value, TRUE AS within_rel_bound,
       TRUE AS multi_batch, TRUE AS ingested_once
FROM qs, n JOIN sorted ON sorted.rn = CAST(FLOOR((n.c - 1) * qs.q) AS BIGINT) + 1
ORDER BY q
"""


def stream_incremental_near_dup(spark, sf_dir):
    """Continuous-ingest dedup: the NEW half of the corpus arrives as an
    availableNow stream (maxFilesPerTrigger=1 → real micro-batches);
    each batch runs ``query_lsh_index`` against the PERSISTED old-corpus
    index and lands its pairs in a batch-id-keyed idempotent store. The
    final union of per-batch pairs must equal the one-shot batch answer
    EXACTLY — proven with a bounded verdict the oracle recomputes from
    the full SQL replay: pair count + two order-insensitive integer
    checksums (ids, and est_jaccard in millionths — every estimate is
    k/64, dyadic, so the decimal form is exact in both engines). No
    full-output driver collect: the verdict aggregates in Spark."""
    _ensure_shipped(spark)
    import re as _re
    import shutil
    import tempfile

    from ip_filter_spark.operators.dedup import build_lsh_index, query_lsh_index

    d = _t(spark, sf_dir, "documents")
    old = d.where(F.col("doc_id") % 4 != 0)
    new = d.where(F.col("doc_id") % 4 == 0)
    n_new = new.count()
    idx = os.path.join(
        tempfile.gettempdir(), "ifs_lsh_sidx_" + _re.sub(r"\W", "_", sf_dir)
    )
    build_lsh_index(old, "doc_id", "text", idx, num_perm=64, bands=16)
    work = tempfile.mkdtemp(prefix="ifs_stream_lsh_")
    try:
        src = f"{work}/src"
        new.repartition(4).write.parquet(src)
        stream = (
            spark.readStream.schema(new.schema).option("maxFilesPerTrigger", 1).parquet(src)
        )

        def handle(batch_df, batch_id):
            pairs = query_lsh_index(
                spark, idx, batch_df, "doc_id", "text",
                num_perm=64, bands=16, threshold=0.5,
            )
            pairs.write.mode("overwrite").parquet(f"{work}/store/batch={batch_id}")

        q = (
            stream.writeStream.foreachBatch(handle)
            .option("checkpointLocation", f"{work}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError("availableNow LSH stream did not finish in 300 s")
        ingested = sum(p["numInputRows"] for p in (q.recentProgress or []))
        n_batches = sum(1 for p in (q.recentProgress or []) if p["numInputRows"])
        verdict = (
            spark.read.parquet(f"{work}/store")
            .select("new_id", "old_id", "est_jaccard")
            .distinct()
            .agg(
                F.count("*").alias("n_pairs"),
                F.coalesce(
                    F.sum(F.col("new_id") * 1000003 + F.col("old_id")), F.lit(0)
                ).cast("long").alias("id_checksum"),
                F.coalesce(
                    F.sum((F.col("est_jaccard") * 1000000).cast("long")), F.lit(0)
                ).cast("long").alias("est_checksum"),
            )
            .first()
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        [
            (
                int(verdict["n_pairs"]),
                int(verdict["id_checksum"]),
                int(verdict["est_checksum"]),
                bool(n_batches >= 2),
                bool(ingested == n_new),
            )
        ],
        "n_pairs long, id_checksum long, est_checksum long, multi_batch boolean, all_rows_ingested boolean",
    )


def stream_incremental_verdict_sql(**kw) -> str:
    """Bounded-verdict wrapper over the full incremental replay."""
    inner = incremental_minhash_sql(**kw)
    return f"""
WITH pairs AS ({inner})
SELECT COUNT(*) AS n_pairs,
       CAST(COALESCE(SUM(new_id * 1000003 + old_id), 0) AS BIGINT) AS id_checksum,
       CAST(COALESCE(SUM(CAST(est_jaccard * 1000000 AS BIGINT)), 0) AS BIGINT) AS est_checksum,
       TRUE AS multi_batch, TRUE AS all_rows_ingested
FROM pairs
"""


def stream_dgim_equivalence(spark, sf_dir):
    """Streaming DGIM under the hard gate: a 6-slice time-ordered replay
    of events feeds ``streaming/dgim_stream.py`` — one
    ``applyInPandasWithState`` bucket chain per event type, state
    O(log² W) per key, ``expire`` after every batch so the chain never
    buffers window events.  Gated FULL-VALUE: the exact 7-day count per
    type (same oracle as the batch DGIM gate) plus five booleans — the
    bracket theorem |2C − est2x| ≤ s on the STREAMED chain, the
    k-invariant bound, exactly-once ingestion (inserted == total rows
    per key), ≥2 real micro-batches, and the operator's own
    ``in_order`` high-water-mark flag (True — the replay slices arrive
    in time order; a violation fails loudly instead of silently
    degrading).  Output rows travel via per-batch parquet stores, never
    a driver collect."""
    _ensure_shipped(spark)
    import shutil

    from ip_filter_spark.streaming.dgim_stream import stream_dgim_recent

    K = 8
    WINDOW_US = 7 * 86400 * 10**6
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "event_id",
    )
    now_us = ev.agg(F.max("ts_us")).first()[0]
    work = _stream_scratch("dgim", sf_dir)
    try:
        src = f"{work}/src"
        evn = ev.withColumn("rn", F.row_number().over(Window.orderBy("ts_us", "event_id")))
        total = evn.count()
        for i in range(6):
            lo_r, hi_r = i * total // 6, (i + 1) * total // 6
            evn.where((F.col("rn") > lo_r) & (F.col("rn") <= hi_r)).drop("rn").coalesce(
                1
            ).write.parquet(f"{src}/s{i:02d}")
        stream = (
            # glob: slices live one-per-subdir (s00..s05) so each keeps its
            # own _SUCCESS; FileStreamSource does not recurse without it.
            # Order = (mtime, path): slices are written sequentially and
            # s00 < s01 < ... lexically, so replay order is time order.
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/s*")
        )
        out = stream_dgim_recent(stream, "event_type", "ts_us", int(now_us), WINDOW_US, k=K)

        def handle_batch(batch_df, batch_id):
            batch_df.write.mode("overwrite").parquet(f"{work}/out/batch_id={int(batch_id)}")

        q = (
            out.writeStream.foreachBatch(handle_batch)
            .outputMode("update")
            .option("checkpointLocation", f"{work}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError("availableNow DGIM stream did not finish in 300 s")
    finally:
        shutil.rmtree(f"{work}/src", ignore_errors=True)
        shutil.rmtree(f"{work}/ckpt", ignore_errors=True)
    emitted = spark.read.parquet(f"{work}/out")
    w = Window.partitionBy("key").orderBy(F.desc("n_batches"))
    final = (
        emitted.withColumn("__r", F.row_number().over(w)).where(F.col("__r") == 1).drop("__r")
    )
    exact = ev.groupBy("event_type").agg(
        F.count("*").alias("n_rows"),
        F.sum((F.col("ts_us") > now_us - WINDOW_US).cast("long")).alias("exact_recent"),
    )
    return exact.join(final, exact.event_type == final.key).select(
        "event_type",
        "exact_recent",
        (F.abs(2 * F.col("exact_recent") - F.col("est2x")) <= F.col("uncertainty")).alias(
            "within_uncertainty"
        ),
        (
            F.col("uncertainty") * K
            <= F.greatest(F.lit(K).cast("long"), 2 * F.col("exact_recent"))
        ).alias("rel_bound_ok"),
        (F.col("inserted") == F.col("n_rows")).alias("ingested_exactly_once"),
        (F.col("n_batches") >= 2).alias("multi_batch"),
        "in_order",
    )


STREAM_DGIM_SQL = """
WITH m AS (SELECT MAX(ts) AS now_ts FROM events)
SELECT event_type,
       CAST(SUM(CASE WHEN ts > now_ts - INTERVAL 7 DAY THEN 1 ELSE 0 END) AS BIGINT)
         AS exact_recent,
       TRUE AS within_uncertainty, TRUE AS rel_bound_ok,
       TRUE AS ingested_exactly_once, TRUE AS multi_batch, TRUE AS in_order
FROM events, m GROUP BY event_type
"""


def stream_collapse_equivalence(spark, sf_dir):
    """Streaming consecutive-duplicate collapse under the hard gate: a
    4-slice time-partitioned replay (day-boundary cuts, so every batch
    strictly follows the last — no global row_number needed to slice)
    feeds ``streaming/collapse_stream.py`` — one O(1) state row per
    user (the single previous event LAG would have seen), vectorized
    shift-compare per batch via ``applyInPandasWithState``. The union
    of per-batch kept rows must equal the batch LAG answer row for row:
    same per-type count + exact event_id checksum oracle as
    ``collapse_consecutive_events``, plus the operator's own in_order
    high-water flag (a disorder fails loudly) and a ≥2-real-micro-batch
    witness. Output rides per-batch idempotent parquet stores
    (overwrite on batch_id), never a driver collect."""
    _ensure_shipped(spark)
    import shutil

    from ip_filter_spark.streaming.collapse_stream import stream_collapse_consecutive

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "event_type",
        "event_id",
    )
    work = _stream_scratch("collapse", sf_dir)
    try:
        src = f"{work}/src"
        slice_col = (F.dayofmonth(F.timestamp_micros(F.col("ts_us"))) - 1).cast("int") / 8
        evs = ev.withColumn("slc", F.floor(slice_col).cast("int"))
        for i in range(4):
            evs.where(F.col("slc") == i).drop("slc").coalesce(1).write.parquet(
                f"{src}/s{i:02d}"
            )
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/s*")
        )
        out = stream_collapse_consecutive(stream)

        def handle_batch(batch_df, batch_id):
            batch_df.write.mode("overwrite").parquet(f"{work}/out/batch_id={int(batch_id)}")

        q = (
            out.writeStream.foreachBatch(handle_batch)
            .outputMode("update")
            .option("checkpointLocation", f"{work}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError("availableNow collapse stream did not finish in 300 s")
    finally:
        shutil.rmtree(f"{work}/src", ignore_errors=True)
        shutil.rmtree(f"{work}/ckpt", ignore_errors=True)
    emitted = spark.read.parquet(f"{work}/out")
    nb = F.broadcast(emitted.agg(F.countDistinct("batch_id").alias("nb")))
    return (
        emitted.groupBy("event_type")
        .agg(
            F.count("*").alias("n_kept"),
            F.sum("event_id").alias("id_checksum"),
            F.min("in_order").alias("all_in_order"),
        )
        .crossJoin(nb)
        .select(
            "event_type",
            "n_kept",
            "id_checksum",
            "all_in_order",
            (F.col("nb") >= 2).alias("multi_batch"),
        )
    )


STREAM_COLLAPSE_SQL = """
WITH o AS (SELECT event_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev
           FROM events)
SELECT event_type, COUNT(*) AS n_kept, CAST(SUM(event_id) AS BIGINT) AS id_checksum,
       TRUE AS all_in_order, TRUE AS multi_batch
FROM o WHERE prev IS NULL OR prev <> event_type GROUP BY 1
"""


def stream_late_data_drop(spark, sf_dir):
    """Watermark LATE-DATA semantics under the hard gate: rows arriving
    after the watermark passed their window must be DROPPED, exactly and
    deterministically. Replay: the on-time split (event_id % 3 != 0)
    arrives first, then TWO sentinel rows far in the future, each its
    own micro-batch — the first advances the watermark past every real
    window's end (watermarks apply one batch late), the second runs
    with that watermark so every on-time window is finalized and
    EVICTED — then the late split (event_id % 3 == 0) arrives entirely
    below the watermark and must be dropped (observed:
    numRowsDroppedByWatermark = the late count). The streamed
    per-(hour, type) aggregate must equal the batch aggregate over the
    ON-TIME SPLIT ONLY (full-value oracle). This is the eviction half
    of the watermark contract; stream_windowed_counts pins the
    emission half."""
    _ensure_shipped(spark)
    import shutil

    from ip_filter_spark.streaming import windowed_event_counts

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = _t(spark, sf_dir, "events").select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"), "event_type", "value"
    )
    mn, mx = ev.agg(F.min("ts"), F.max("ts")).first()
    delay_s = int((mx - mn).total_seconds()) + 3601
    work = _stream_scratch("late", sf_dir)
    try:
        src = f"{work}/src"
        on_time = ev.where(F.col("event_id") % 3 != 0).drop("event_id")
        late = ev.where(F.col("event_id") % 3 == 0).drop("event_id")
        on_time.repartition(4).write.parquet(src)

        def _sentinel(extra_s: int):
            # watermark once applied = sentinel - delay = mx + extra_s,
            # beyond every real window end (<= mx + 1h)
            return spark.createDataFrame(
                [("__sentinel__", 0.0)], "event_type string, value double"
            ).select(
                (F.lit(mx) + F.expr(f"INTERVAL {delay_s + extra_s} SECONDS")).alias("ts"),
                "event_type",
                "value",
            )

        # mtime order = micro-batch order; made explicit per stage
        # (each bump sets the new files to prior max + 2 s and asserts)
        stage = _data_parts(src)
        _sentinel(7200).coalesce(1).write.mode("append").parquet(src)
        _bump_sentinel_mtimes(src, stage)
        stage = _data_parts(src)
        _sentinel(7300).coalesce(1).write.mode("append").parquet(src)
        _bump_sentinel_mtimes(src, stage)
        stage = _data_parts(src)
        late.coalesce(1).write.mode("append").parquet(src)
        _bump_sentinel_mtimes(src, stage)
        stream = (
            spark.readStream.schema("ts timestamp, event_type string, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        counts = windowed_event_counts(
            stream, ts_col="ts", key_col="event_type", window="1 hour",
            watermark=f"{delay_s} seconds",
        )
        q = (
            counts.writeStream.outputMode("append")
            .option("checkpointLocation", f"{work}/ckpt")
            .trigger(availableNow=True)
            .start(f"{work}/out", format="parquet")
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError("availableNow late-data stream did not finish in 300 s")
    finally:
        shutil.rmtree(f"{work}/src", ignore_errors=True)
        shutil.rmtree(f"{work}/ckpt", ignore_errors=True)
    return (
        spark.read.parquet(f"{work}/out")
        .where(F.col("event_type") != "__sentinel__")
        .select("window_start", "event_type", F.col("n").cast("long").alias("n"), "total_value")
    )


STREAM_LATE_DROP_SQL = """
SELECT STRFTIME(DATE_TRUNC('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
FROM events
WHERE event_id % 3 <> 0
GROUP BY window_start, event_type
"""


def stream_restart_exactly_once(spark, sf_dir):
    """Checkpoint RECOVERY exactly-once under the hard gate: the same
    windowed aggregation runs as TWO separate availableNow queries over
    one checkpoint. Run 1 ingests the even split (the watermark stays
    below every real window, so nothing emits — all state is pending in
    the state store when the query terminates). Run 2 starts from the
    checkpoint, plans ONLY the files appended since (source offsets
    recovered), merges the odd split into the RECOVERED state and
    flushes on the sentinel's watermark advance. The output must equal
    the batch aggregate over ALL events, full-value: lost state
    undercounts, re-read sources double-count — either flips the hash.
    This is the restart half of exactly-once; stream_sketch_equivalence
    pins the idempotent-sink half."""
    _ensure_shipped(spark)
    import shutil

    from ip_filter_spark.streaming import windowed_event_counts

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = _t(spark, sf_dir, "events").select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"), "event_type", "value"
    )
    mn, mx = ev.agg(F.min("ts"), F.max("ts")).first()
    delay_s = int((mx - mn).total_seconds()) + 3601
    work = _stream_scratch("restart", sf_dir)

    def run_once():
        stream = (
            spark.readStream.schema("ts timestamp, event_type string, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{work}/src")
        )
        counts = windowed_event_counts(
            stream, ts_col="ts", key_col="event_type", window="1 hour",
            watermark=f"{delay_s} seconds",
        )
        q = (
            counts.writeStream.outputMode("append")
            .option("checkpointLocation", f"{work}/ckpt")
            .trigger(availableNow=True)
            .start(f"{work}/out", format="parquet")
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError("availableNow restart stream did not finish in 300 s")

    try:
        src = f"{work}/src"
        ev.where(F.col("event_id") % 2 == 0).drop("event_id").repartition(2).write.parquet(src)
        run_once()  # phase 1: state builds, nothing emits
        # mtime order = micro-batch order for run 2; made explicit per stage
        stage = _data_parts(src)
        ev.where(F.col("event_id") % 2 == 1).drop("event_id").coalesce(1).write.mode(
            "append"
        ).parquet(src)
        _bump_sentinel_mtimes(src, stage)
        stage = _data_parts(src)
        sent = spark.createDataFrame(
            [("__sentinel__", 0.0)], "event_type string, value double"
        ).select(
            (F.lit(mx) + F.expr(f"INTERVAL {delay_s + 7200} SECONDS")).alias("ts"),
            "event_type",
            "value",
        )
        sent.coalesce(1).write.mode("append").parquet(src)
        _bump_sentinel_mtimes(src, stage)
        run_once()  # phase 2: recover state + offsets, fold the odd split, flush
    finally:
        shutil.rmtree(f"{work}/src", ignore_errors=True)
        shutil.rmtree(f"{work}/ckpt", ignore_errors=True)
    return (
        spark.read.parquet(f"{work}/out")
        .where(F.col("event_type") != "__sentinel__")
        .select("window_start", "event_type", F.col("n").cast("long").alias("n"), "total_value")
    )


def stream_static_enrich(spark, sf_dir):
    """STREAM-STATIC join under the hard gate — the remaining join
    regime (stream-stream interval join and streaming CDC are already
    gated): a replayed event stream enriched against the static
    customer dimension by a broadcast hash join INSIDE the streaming
    query (the dimension is read once per micro-batch plan, never
    shuffled, no state store involved — stream-static inner joins are
    stateless by definition).  Output rides per-micro-batch parquet
    appends; FULL-VALUE oracle is the plain batch join aggregated per
    (customer segment, event type) with exact decimal sums."""
    _ensure_shipped(spark)
    import shutil

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "value")
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    work = _stream_scratch("enrich", sf_dir)
    try:
        src = f"{work}/src"
        ev.repartition(4).write.parquet(src)
        stream = (
            spark.readStream.schema(
                "event_id long, user_id long, event_type string, value double"
            )
            .option("maxFilesPerTrigger", 2)
            .parquet(src)
        )
        # stateless per-batch projection; the bounded aggregation happens
        # over the sink afterwards, so the stream itself stays append-only
        enriched = stream.join(F.broadcast(cust), "user_id", "inner").select(
            "event_id", "user_id", "c_mktsegment", "event_type", "value"
        )
        q = (
            enriched.writeStream.outputMode("append")
            .option("checkpointLocation", f"{work}/ckpt")
            .trigger(availableNow=True)
            .start(f"{work}/out", format="parquet")
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError("availableNow stream-static join did not finish in 300 s")
    finally:
        shutil.rmtree(f"{work}/src", ignore_errors=True)
        shutil.rmtree(f"{work}/ckpt", ignore_errors=True)
    return (
        spark.read.parquet(f"{work}/out")
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("event_id").cast("long").alias("id_sum"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total_value"),
        )
    )


STREAM_STATIC_ENRICH_SQL = """
SELECT c.c_mktsegment, e.event_type, COUNT(*) AS n,
       CAST(SUM(e.event_id) AS BIGINT) AS id_sum,
       CAST(SUM(CAST(e.value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment, e.event_type
"""


__all__ = [
    "stream_sketch_equivalence",
    "STREAM_EQUIV_SQL",
    "_stream_scratch",
    "_data_parts",
    "_bump_sentinel_mtimes",
    "stream_session_equivalence",
    "stream_windowed_counts",
    "STREAM_WINDOWED_SQL",
    "_replay_clicks_purchases",
    "stream_range_join_equivalence",
    "stream_outer_join_nulls",
    "STREAM_OUTER_JOIN_SQL",
    "stream_join_then_window",
    "STREAM_JOIN_WINDOW_SQL",
    "stream_dedup_docs",
    "STREAM_DEDUP_SQL",
    "stream_mg_heavy_hitters",
    "STREAM_MG_SQL",
    "stream_cdc_equivalence",
    "stream_ddsketch_quantiles",
    "STREAM_DDSKETCH_SQL",
    "stream_incremental_near_dup",
    "stream_incremental_verdict_sql",
    "stream_dgim_equivalence",
    "STREAM_DGIM_SQL",
    "stream_collapse_equivalence",
    "STREAM_COLLAPSE_SQL",
    "stream_late_data_drop",
    "STREAM_LATE_DROP_SQL",
    "stream_restart_exactly_once",
    "stream_static_enrich",
    "STREAM_STATIC_ENRICH_SQL",
]
