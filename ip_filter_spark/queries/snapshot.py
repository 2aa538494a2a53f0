"""Table-format / storage gates: snapshot source (time travel, upsert, MoR deletes, vacuum), layout (Z-order, pruning, compaction), CDC, export.

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
    _dec_sum,
    _ensure_shipped,
)

def partition_pruned_events(spark, sf_dir):
    """Time-partitioned table layout + partition pruning: events are
    written ``partitionBy(event_date)`` — the hypertable layout every
    100 TB time-series store uses — and a one-week slice query then
    opens ONLY the 7 matching date directories. The inline assert pins
    ``PartitionFilters`` on ``event_date`` in the scan (directory-level
    skipping, decided before any file is opened) and that the data
    filter did NOT degrade to a post-scan Filter over all 30 days.
    Values are the plain slice aggregate, so the oracle is ordinary SQL
    over the unpartitioned source."""
    _ensure_shipped(spark)
    import shutil
    import tempfile

    work = tempfile.mkdtemp(prefix="ifs_partitioned_")
    try:
        ev = _t(spark, sf_dir, "events").withColumn("event_date", F.to_date("ts"))
        # one task per date -> one file per partition dir (32 input
        # partitions would otherwise each write every date: P x days
        # small files)
        ev.repartition(F.col("event_date")).write.mode("overwrite").partitionBy(
            "event_date"
        ).parquet(work)
        back = spark.read.parquet(work)
        sliced = back.where(
            (F.col("event_date") >= F.lit("2024-01-08")) & (F.col("event_date") <= F.lit("2024-01-14"))
        )
        plan = sliced._sc._jvm.PythonSQLUtils.explainString(
            sliced._jdf.queryExecution(), "formatted"
        )
        pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
        if not pf or "event_date" not in pf[0]:
            raise AssertionError(f"slice must prune date partitions at the scan:\n{plan}")
        rows = (
            sliced.groupBy("event_type")
            .agg(F.count("*").alias("n_events"), _dec_sum(F.col("value"), "sum_value"))
            .collect()
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(rows, "event_type string, n_events long, sum_value double")


PARTITION_PRUNED_SQL = """
SELECT event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events
WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'
GROUP BY event_type
"""


def sorted_export_events(spark, sf_dir):
    """Global total-order export WITHOUT a single reducer — the terasort
    shape, and the one correct way to emit a sorted dataset at 100 TB:
    ``repartitionByRange`` samples boundary keys and plans ONE range
    Exchange; each of the F output tasks then sorts only its own slice
    (``sortWithinPartitions``), so no stage ever holds more than 1/F of
    the data and the concatenation of files in range order is globally
    sorted. Contrast a global window ``row_number`` rank, which is a
    single-partition wall.

    Gate strategy: the driver's value-hash is order-insensitive, so
    ordering is gated as exact integer EVIDENCE computed distributed
    from the files read BACK: per-file (n, min, max) via
    ``input_file_name`` [tiny F-row reduction], every file internally
    non-decreasing (lag over a per-file window ordered by
    ``monotonically_increasing_id`` — monotone in physical read order
    within a scan partition; the verification pass shuffles O(n) once,
    which a real export would also pay for an audit), file key ranges
    pairwise disjoint, row conservation and exact global min/max vs the
    oracle. The sort key packs (epoch-second, event_id) into one BIGINT
    (ts·2^24 + id); an in-query assert pins the id domain so the
    packing is order-faithful — 'oracle form invalid' otherwise."""
    _ensure_shipped(spark)
    import shutil
    import tempfile

    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    assert ev.agg(F.max("event_id")).first()[0] < (1 << 24), (
        "event_id domain exceeds the 2^24 packing budget; oracle form invalid"
    )
    key = (F.col("ts").cast("timestamp").cast("long") * (1 << 24) + F.col("event_id")).alias("key")
    rows = ev.select(key, "event_id", "user_id", "event_type")
    work = tempfile.mkdtemp(prefix="ifs_sorted_export_")
    try:
        rows.repartitionByRange(8, "key").sortWithinPartitions("key").write.parquet(f"{work}/out")
        # The mid-based row-order evidence requires each file to be read as
        # ONE contiguous scan partition: a SPLIT file's later byte range can
        # land in a lower partitionId (Spark packs splits size-descending),
        # breaking mid's read-order monotonicity per file. Pin it for the
        # audit scan only — on an ISOLATED newSession() (own SQLConf, same
        # SparkContext), so concurrent queries on the shared session never
        # see the 1 TB setting; whole files packed together are fine (each
        # file is still read contiguously within its partition).
        audit = spark.newSession()
        audit.conf.set("spark.sql.files.maxPartitionBytes", str(1 << 40))
        audit.conf.set(
            "spark.sql.shuffle.partitions",
            spark.conf.get("spark.sql.shuffle.partitions"),
        )
        back = audit.read.parquet(f"{work}/out").select(
            "key", F.input_file_name().alias("f"), F.monotonically_increasing_id().alias("mid")
        )
        w = Window.partitionBy("f").orderBy("mid")
        per_file = (
            back.withColumn("prev", F.lag("key").over(w))
            .groupBy("f")
            .agg(
                F.count("*").alias("n"),
                F.min("key").alias("lo"),
                F.max("key").alias("hi"),
                F.sum((F.col("prev") > F.col("key")).cast("long")).alias("inversions"),
            )
        ).collect()  # F rows — bounded by the file count, not the data
    finally:
        shutil.rmtree(work, ignore_errors=True)
    per_file.sort(key=lambda r: r.lo)
    n_rows = sum(r.n for r in per_file)
    each_sorted = all((r.inversions or 0) == 0 for r in per_file)
    disjoint = all(per_file[i].hi < per_file[i + 1].lo for i in range(len(per_file) - 1))
    return spark.createDataFrame(
        [
            (
                int(n_rows),
                int(per_file[0].lo),
                int(per_file[-1].hi),
                bool(len(per_file) >= 2),
                bool(each_sorted),
                bool(disjoint),
            )
        ],
        "n_rows long, min_key long, max_key long, files_multi boolean, "
        "each_file_sorted boolean, files_disjoint_ordered boolean",
    )


SORTED_EXPORT_SQL = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MIN(k) AS BIGINT) AS min_key,
       CAST(MAX(k) AS BIGINT) AS max_key,
       TRUE AS files_multi, TRUE AS each_file_sorted, TRUE AS files_disjoint_ordered
FROM (SELECT CAST(FLOOR(epoch(ts)) AS BIGINT) * 16777216 + event_id AS k FROM events)
"""


def zorder_layout_events(spark, sf_dir):
    """Z-order (Morton) layout roundtrip under the gate: events written
    once clustered on the bit-interleaved (user_id, value) quantile
    buckets (``layout.zorder_write`` — one range exchange, JVM-only
    expressions), then a 2-D box filter + aggregate over the REWRITTEN
    files must equal the same SQL over the original table — layout
    changes where rows live, never what they are. The box bounds are
    INTEGER floor-division fractions on the long column (a double bound
    would cast the column and disable the pushdown the layout exists
    for) and a power-of-two fraction (0.25 — exact in binary) of the
    exact min/max on the double column, so Spark and DuckDB compute
    bit-identical bounds.
    The pruning property itself (row-group skipping on BOTH columns) is
    pinned by scan-metric asserts in tests/test_plans.py — a layout
    gate's value-hash can't see where bytes landed."""
    _ensure_shipped(spark)
    import os
    import shutil
    import tempfile

    from ip_filter_spark.operators.layout import zorder_write

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "value")
    d = os.path.join(
        tempfile.gettempdir(), "ifs_layout_gates", f"z_{os.path.basename(os.path.normpath(sf_dir))}"
    )
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    zorder_write(ev, ["user_id", "value"], f"{d}/events_z", n_files=16)
    back = spark.read.parquet(f"{d}/events_z")

    umin, umax, vmin, vmax = ev.agg(
        F.min("user_id"), F.max("user_id"), F.min("value"), F.max("value")
    ).first()
    # INTEGER bounds on the long column (a double literal would cast the
    # column and disable parquet pushdown — the pruning the layout is
    # for); floor division replicated exactly by // in the oracle
    ulo = umin + (umax - umin) // 4
    uhi = umin + (3 * (umax - umin)) // 4
    vhi = vmin + 0.25 * (vmax - vmin)
    box = (
        (F.col("user_id") >= ulo) & (F.col("user_id") <= uhi) & (F.col("value") <= vhi)
    )
    return back.where(box).groupBy("event_type").agg(
        F.count("*").alias("n_rows"),
        F.min("user_id").alias("min_user"),
        F.max("user_id").alias("max_user"),
        _dec_sum(F.col("value"), "sum_value"),
    )


ZORDER_LAYOUT_SQL = """
WITH b AS (
  SELECT MIN(user_id) + (MAX(user_id) - MIN(user_id)) // 4 AS ulo,
         MIN(user_id) + (3 * (MAX(user_id) - MIN(user_id))) // 4 AS uhi,
         MIN(value) + 0.25 * (MAX(value) - MIN(value)) AS vhi
  FROM events
)
SELECT event_type, COUNT(*) AS n_rows, MIN(user_id) AS min_user,
       MAX(user_id) AS max_user,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events, b
WHERE user_id >= b.ulo AND user_id <= b.uhi AND value <= b.vhi
GROUP BY event_type
"""


def bloom_pruned_scan_events(spark, sf_dir):
    """File-level Bloom index under the gate: events written range-
    clustered by user_id into 16 files, a per-file Bloom sidecar built
    over sha256(user_id) (one grouped-by-`_metadata.file_path` scan),
    then a 5-key batch lookup reads ONLY the files whose Bloom may
    contain a key — the reference's guided-probe idea (the sketch says
    where NOT to look, prototype/ipfilter.py:131-158) applied to scan
    pruning. The exact IN predicate is re-applied on read, so Bloom
    false positives cost a file scan, never a wrong row; the result must
    therefore equal the plain full-scan filter (the oracle). `pruned`
    certifies files_scanned < files_total THROUGH the hashed output;
    the stronger bound (scanned <= keys + fp) is pinned in pytest."""
    _ensure_shipped(spark)
    import os
    import shutil
    import tempfile

    from ip_filter_spark.sources.bloom_index import bloom_pruned_read, write_bloom_index

    keys = [3, 47, 91, 120, 150]
    ev = _t(spark, sf_dir, "events")
    d = os.path.join(
        tempfile.gettempdir(),
        "ifs_layout_gates",
        f"bfix_{os.path.basename(os.path.normpath(sf_dir))}",
    )
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    data = f"{d}/events_by_user"
    ev.repartitionByRange(16, "user_id").write.parquet(data)
    write_bloom_index(spark, data, "user_id", fpp=1e-4, expected_keys_per_file=200_000)
    hits, stats = bloom_pruned_read(spark, data, "user_id", keys)
    return (
        hits.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.min("event_id").alias("min_event"),
            F.max("event_id").alias("max_event"),
        )
        .withColumn("pruned", F.lit(stats.pruned))
    )


BLOOM_PRUNED_SCAN_SQL = """
SELECT user_id, COUNT(*) AS n_events, MIN(event_id) AS min_event,
       MAX(event_id) AS max_event, TRUE AS pruned
FROM events WHERE user_id IN (3, 47, 91, 120, 150)
GROUP BY user_id
"""


def cdc_upsert_events(spark, sf_dir):
    """CDC upsert-merge equivalence, end-to-end: compact the first half
    of the events log to a snapshot (latest row per user), then advance
    it with the second half via ``upsert_snapshot`` — and gate that the
    result EQUALS the latest-state of the full history (the oracle
    computes that directly with one SQL window). This is the nightly
    snapshot+delta merge pattern: cost O(delta + snapshot), never a
    rescan of history. Both compactions plan the rank filter as
    WindowGroupLimit — map-side partial top-1 per key before the
    exchange, so shuffle is O(keys), not O(log)."""
    from ip_filter_spark.operators.cdc import latest_state, upsert_snapshot

    ev = _t(spark, sf_dir, "events")
    split = F.lit("2024-01-16 00:00:00").cast("timestamp_ntz")
    base = latest_state(ev.where(F.col("ts") < split), ["user_id"], ["ts", "event_id"])
    delta = ev.where(F.col("ts") >= split)
    merged = upsert_snapshot(base, delta, ["user_id"], ["ts", "event_id"])
    return merged.select(
        "user_id",
        F.col("ts").alias("last_ts"),
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_type"),
        F.col("value").alias("last_value"),
    )


def referential_integrity_audit(spark, sf_dir):
    """Cross-table foreign-key audit — the multi-edge complement of the
    single-table ``data_quality_orders`` gate: for each FK edge
    (lineitem→orders, orders→customer, lineitem→part) one row of
    (child_rows, orphan_rows, clean). Each edge is a left join against
    the DISTINCT parent keys with a null-indicator sum — one pass over
    each child table, no row ever reaches the driver. Join shapes stay
    declarative: at scale the dim-sized parents (customer, part)
    broadcast under AQE while orders↔lineitem shuffles on the key —
    exactly the per-edge choice a planner should make, not the query."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    part = _t(spark, sf_dir, "part")

    def edge(name, child, ck, parent, pk):
        par = parent.select(F.col(pk).alias("_pk")).distinct()
        joined = child.select(F.col(ck).alias("_ck")).join(
            par, F.col("_ck") == F.col("_pk"), "left"
        )
        return (
            joined.agg(
                F.count("*").alias("child_rows"),
                F.sum(F.when(F.col("_pk").isNull(), 1).otherwise(0))
                .cast("long")
                .alias("orphan_rows"),
            )
            .withColumn("edge", F.lit(name))
            .withColumn("clean", F.col("orphan_rows") == 0)
            .select("edge", "child_rows", "orphan_rows", "clean")
        )

    return (
        edge("lineitem_orders", li, "l_orderkey", orders, "o_orderkey")
        .unionByName(edge("orders_customer", orders, "o_custkey", cust, "c_custkey"))
        .unionByName(edge("lineitem_part", li, "l_partkey", part, "p_partkey"))
    )


REFERENTIAL_INTEGRITY_SQL = """
SELECT 'lineitem_orders' AS edge,
       CAST(COUNT(*) AS BIGINT) AS child_rows,
       CAST(SUM(CASE WHEN p._pk IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS orphan_rows,
       SUM(CASE WHEN p._pk IS NULL THEN 1 ELSE 0 END) = 0 AS clean
FROM lineitem c LEFT JOIN (SELECT DISTINCT o_orderkey AS _pk FROM orders) p
  ON c.l_orderkey = p._pk
UNION ALL
SELECT 'orders_customer',
       CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN p._pk IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       SUM(CASE WHEN p._pk IS NULL THEN 1 ELSE 0 END) = 0
FROM orders c LEFT JOIN (SELECT DISTINCT c_custkey AS _pk FROM customer) p
  ON c.o_custkey = p._pk
UNION ALL
SELECT 'lineitem_part',
       CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN p._pk IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       SUM(CASE WHEN p._pk IS NULL THEN 1 ELSE 0 END) = 0
FROM lineitem c LEFT JOIN (SELECT DISTINCT p_partkey AS _pk FROM part) p
  ON c.l_partkey = p._pk
"""


def multi_format_roundtrip_docs(spark, sf_dir):
    """Source/sink format coverage beyond parquet: the documents table
    (as stable typed columns + a content sha — raw text stays out of
    CSV/JSON escaping territory by design) round-trips through JSON
    lines, CSV and ORC; each format's read-back must aggregate to the
    identical row count, char sum and content checksum as the parquet
    original (the oracle side). Reads use EXPLICIT schemas — no
    inference scan. The checksum folds the first 8 sha hex chars to an
    integer, so any row corruption, loss or duplication shows."""
    import shutil
    import tempfile

    cols = ["doc_id", "lang", "source", "n_chars", "sha"]
    base = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars", F.sha2("text", 256).alias("sha")
    )
    schema = "doc_id bigint, lang string, source string, n_chars bigint, sha string"
    work = tempfile.mkdtemp(prefix="ifs_fmt_rt_")
    rows = []
    try:
        for fmt in ("json", "csv", "orc"):
            path = f"{work}/{fmt}"
            w = base.write.mode("overwrite")
            if fmt == "csv":
                w = w.option("header", True)
            w.format(fmt).save(path)
            r = spark.read.schema(schema)
            if fmt == "csv":
                r = r.option("header", True)
            back = r.format(fmt).load(path).select(*cols)
            agg = back.agg(
                F.count("*").alias("n"),
                F.sum("n_chars").alias("chars"),
                F.sum(F.conv(F.substring("sha", 1, 8), 16, 10).cast("long")).alias("ck"),
            ).first()
            rows.append((fmt, int(agg["n"]), int(agg["chars"]), int(agg["ck"])))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        rows, "format string, n_docs long, sum_chars long, sha_checksum long"
    )


MULTI_FORMAT_RT_SQL = """
WITH agg AS (
  SELECT COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
         CAST(SUM(CAST('0x' || substr(sha256(text), 1, 8) AS BIGINT)) AS BIGINT) AS sha_checksum
  FROM documents)
SELECT f.format, n_docs, sum_chars, sha_checksum
FROM agg, (VALUES ('json'), ('csv'), ('orc')) AS f(format)
"""


def compact_small_files_docs(spark, sf_dir):
    """Table-maintenance operator every 100 TB lakehouse runs nightly:
    SMALL-FILE COMPACTION. Writes the documents projection as 16
    round-robin part files (the pathological many-small-files layout),
    then rewrites at the target file count with repartition(4) — the
    OPTIMIZE-style shuffle rewrite, chosen over coalesce() because the
    parquet scan itself already BIN-PACKS tiny files into few input
    partitions (openCostInBytes), so a narrow coalesce could land under
    the target — and proves the rewrite is lossless (row count, doc_id
    and n_chars checksums) and the file count is exactly the target.
    The oracle pins the data invariants; layout facts surface as the
    literal counts the gate asserts."""
    import shutil
    import tempfile

    d = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    root = tempfile.mkdtemp(prefix="compact_gate_")
    try:
        small, big = f"{root}/small", f"{root}/big"
        d.repartition(16).write.mode("overwrite").parquet(small)
        before = spark.read.parquet(small)
        n_before = len(before.inputFiles())
        before.repartition(4).write.mode("overwrite").parquet(big)
        after = spark.read.parquet(big)
        n_after = len(after.inputFiles())
        row = after.agg(
            F.count("*").alias("n_rows"),
            F.sum("doc_id").alias("sum_doc_ids"),
            F.sum("n_chars").alias("sum_chars"),
        ).first()
        assert n_before == 16 and n_after == 4, (n_before, n_after)
        return spark.createDataFrame(
            [(16, 4, row["n_rows"], row["sum_doc_ids"], row["sum_chars"])],
            "n_files_before int, n_files_after int, n_rows bigint, "
            "sum_doc_ids bigint, sum_chars bigint",
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


COMPACT_SMALL_FILES_SQL = """
SELECT CAST(16 AS INTEGER) AS n_files_before, CAST(4 AS INTEGER) AS n_files_after,
       COUNT(*) AS n_rows, CAST(SUM(doc_id) AS BIGINT) AS sum_doc_ids,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM documents
"""


def snapshot_incremental_docs(spark, sf_dir):
    """Iceberg-shaped table contract under the hard gate: documents are
    committed as two manifest-backed snapshots (sources/snapshots.py) —
    the even doc_id half, then the odd half. Three scans must reproduce
    exact per-lang stats: TIME TRAVEL to snapshot 1 read AFTER snapshot
    2 exists (isolation — a pinned reader never sees later appends), the
    INCREMENTAL (s1, s2] scan (plans over only the delta's data files —
    the O(delta)-not-O(table) maintenance read that folds a nightly
    delta into checkpointed sketch partials at 10^12 files instead of
    re-scanning the corpus, the incremental-maintenance capability the
    reference's report leaves as future work — it rebuilds from a full
    scan every run, /root/reference/prototype/ipfilter.py:124-143), and
    the current-snapshot scan. Only per-(phase, lang) aggregates reach
    the driver — bounded rows, never data."""
    import shutil
    import tempfile

    from ip_filter_spark.sources.snapshots import SnapshotTable

    docs = _t(spark, sf_dir, "documents")
    work = tempfile.mkdtemp(prefix="ifs_snap_")
    rows = []
    try:
        table = SnapshotTable(os.path.join(work, "docs_table"))
        s1 = table.append(docs.where(F.col("doc_id") % 2 == 0))
        s2 = table.append(docs.where(F.col("doc_id") % 2 == 1))
        assert table.snapshots() == [s1, s2]
        for phase, df in (
            ("snapshot1", table.read(spark, s1)),
            ("delta", table.incremental(spark, s1, s2)),
            ("current", table.read(spark)),
        ):
            agg = (
                df.groupBy("lang")
                .agg(F.count("*").alias("n"), F.sum("n_chars").alias("chars"))
                .collect()
            )
            rows.extend((phase, r["lang"], int(r["n"]), int(r["chars"])) for r in agg)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(rows, "phase string, lang string, n_docs long, sum_chars long")


SNAPSHOT_INCREMENTAL_SQL = """
WITH halves AS (
  SELECT 'snapshot1' AS phase, lang, n_chars FROM documents WHERE doc_id % 2 = 0
  UNION ALL
  SELECT 'delta' AS phase, lang, n_chars FROM documents WHERE doc_id % 2 = 1
  UNION ALL
  SELECT 'current' AS phase, lang, n_chars FROM documents)
SELECT phase, lang, CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM halves GROUP BY phase, lang
"""


def snapshot_pruned_scan_docs(spark, sf_dir):
    """Manifest min/max file skipping (Iceberg's lower/upper_bounds) on
    the snapshot source: documents land in 8 appends bucketed by doc_id
    range with per-file-set doc_id bounds recorded at commit time, then
    a range query plans via manifest stats ONLY — the middle-half
    predicate must keep exactly the 2 matching file sets of 8 (asserted
    in-query and emitted as gated integer columns). At 10^12 files this
    planning is O(manifest) with zero parquet-footer I/O; the row-level
    filter stays on top because skipping is a superset guarantee, never
    a filter. Values are the exact per-lang aggregates of the range."""
    import shutil
    import tempfile

    from ip_filter_spark.sources.snapshots import SnapshotTable

    docs = _t(spark, sf_dir, "documents")
    n = docs.agg(F.max("doc_id")).first()[0] + 1
    work = tempfile.mkdtemp(prefix="ifs_prune_")
    try:
        table = SnapshotTable(os.path.join(work, "docs_table"))
        for i in range(8):
            lo_b, hi_b = i * n // 8, (i + 1) * n // 8
            table.append(
                docs.where((F.col("doc_id") >= lo_b) & (F.col("doc_id") < hi_b)),
                stats_cols=["doc_id"],
            )
        lo, hi = n // 4, n // 2 - 1  # exactly file sets 2 and 3 of 0..7
        df, planned, total = table.read_pruned(spark, "doc_id", lo, hi)
        assert (planned, total) == (2, 8), (planned, total)
        out = df.groupBy("lang").agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
        rows = out.collect()  # materialize before the tmpdir vanishes
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(rows, out.schema).select(
        "*",
        F.lit(2).cast("long").alias("files_planned"),
        F.lit(8).cast("long").alias("files_total"),
    )


SNAPSHOT_PRUNED_SQL = """
WITH bounds AS (SELECT MAX(doc_id) + 1 AS n FROM documents)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       MIN(doc_id) AS min_id, MAX(doc_id) AS max_id,
       CAST(2 AS BIGINT) AS files_planned, CAST(8 AS BIGINT) AS files_total
FROM documents, bounds
WHERE doc_id >= n // 4 AND doc_id <= n // 2 - 1
GROUP BY lang
"""


def snapshot_schema_evolution_docs(spark, sf_dir):
    """Add-column schema evolution on the snapshot source: snapshot 1
    holds the original document columns, snapshot 2 appends rows WITH a
    new ``quality`` column, and a plain read of the current snapshot
    scans with the manifest's union schema — pre-evolution files read
    the new column as NULL (Iceberg's add-column contract; no rewrite of
    old data). The gate pins per-lang counts, the NULL/backfilled split, and
    the exact sum of the new column over the rows that have it."""
    import shutil
    import tempfile

    from ip_filter_spark.sources.snapshots import SnapshotTable

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    work = tempfile.mkdtemp(prefix="ifs_evolve_")
    try:
        table = SnapshotTable(os.path.join(work, "docs_table"))
        table.append(docs.where(F.col("doc_id") % 2 == 0))
        table.append(
            docs.where(F.col("doc_id") % 2 == 1).withColumn(
                "quality", (F.col("n_chars") % 7).cast("long")
            )
        )
        cur = table.read(spark)
        assert "quality" in cur.columns
        out = cur.groupBy("lang").agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("quality").isNull().cast("long")).alias("n_pre_evolution"),
            F.sum(F.coalesce(F.col("quality"), F.lit(0))).alias("sum_quality"),
        )
        rows = out.collect()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(rows, out.schema)


SNAPSHOT_EVOLUTION_SQL = """
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pre_evolution,
       CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN n_chars % 7 ELSE 0 END) AS BIGINT) AS sum_quality
FROM documents GROUP BY lang
"""


def snapshot_bloom_point_docs(spark, sf_dir):
    """Bloom-filter file skipping on the snapshot source — the planning
    min/max bounds CANNOT do: documents land in 8 appends bucketed by
    ``doc_id % 8`` (every file set's [min, max] spans essentially the
    whole id domain, so range stats keep 8/8 for any point), each append
    recording a Bloom sketch of its doc_ids in the manifest
    (``SnapshotTable.append(bloom_cols=...)``, Iceberg/Parquet's
    per-file bloom analog built from this repo's own filter kernel).
    Four point lookups then each plan EXACTLY the 1 true file set of 8
    via driver-side blob probes (zero data I/O), while the min/max
    planner is shown keeping all 8; an absent key plans 0 files.  All
    planning outcomes ship as gated integer columns; FPP is sized at
    1e-8 per file set so the planned counts are deterministic.  Values
    are the exact looked-up rows."""
    import shutil
    import tempfile

    from ip_filter_spark.sources.snapshots import SnapshotTable

    docs = _t(spark, sf_dir, "documents")
    n = docs.agg(F.max("doc_id")).first()[0] + 1
    work = tempfile.mkdtemp(prefix="ifs_bloom_")
    try:
        table = SnapshotTable(os.path.join(work, "docs_table"))
        for i in range(8):
            table.append(
                docs.where(F.col("doc_id") % 8 == i),
                stats_cols=["doc_id"],
                bloom_cols=["doc_id"],
            )
        probe_ids = [8, n // 3, n // 2 + 1, n - 9]
        assert len(set(probe_ids)) == 4 and all(7 <= p <= n - 8 for p in probe_ids)
        all_rows = []
        schema = None
        for pid in probe_ids:
            df, planned, total = table.read_point(spark, "doc_id", pid)
            assert (planned, total) == (1, 8), (pid, planned, total)
            # min/max alone keeps every interleaved file set (bounds are
            # checked inside plan_point too — here shown in isolation)
            minmax_kept, _ = table.plan_pruned("doc_id", pid, pid)
            assert len(minmax_kept) == 8, (pid, len(minmax_kept))
            out = df.select(
                "doc_id",
                "lang",
                "n_chars",
                F.lit(planned).cast("long").alias("files_planned"),
                F.lit(total).cast("long").alias("files_total"),
                F.lit(len(minmax_kept)).cast("long").alias("minmax_would_plan"),
            )
            schema = out.schema
            all_rows.extend(out.collect())
        absent_kept, _ = table.plan_point("doc_id", n + 12345)
        assert absent_kept == [], absent_kept
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(all_rows, schema).select(
        "*", F.lit(len(absent_kept)).cast("long").alias("absent_planned")
    )


SNAPSHOT_BLOOM_POINT_SQL = """
WITH b AS (SELECT MAX(doc_id) + 1 AS n FROM documents),
ids AS (
  SELECT 8 AS probe_id FROM b
  UNION ALL SELECT n // 3 FROM b
  UNION ALL SELECT n // 2 + 1 FROM b
  UNION ALL SELECT n - 9 FROM b)
SELECT d.doc_id, d.lang, d.n_chars,
       CAST(1 AS BIGINT) AS files_planned,
       CAST(8 AS BIGINT) AS files_total,
       CAST(8 AS BIGINT) AS minmax_would_plan,
       CAST(0 AS BIGINT) AS absent_planned
FROM documents d JOIN ids ON d.doc_id = ids.probe_id
"""


def snapshot_upsert_docs(spark, sf_dir):
    """Copy-on-write MERGE on the snapshot source (Delta/Iceberg CoW):
    documents land in 4 interleaved appends (``doc_id % 4``) with
    manifest blooms, then one upsert batch modifies every ``doc_id % 10
    = 3`` row (+1000 chars) and inserts 5 brand-new rows.  The planner
    probes the manifest blooms with the batch's keys and rewrites ONLY
    the 2 file sets that can hold a ``% 10 = 3`` key (ids ≡ 3 (mod 10)
    fall in buckets 1 and 3 (mod 4)) — O(files-touched) data I/O,
    asserted and gated as integer columns.  Snapshot isolation is gated
    too: the pre-upsert snapshot still counts the original rows.
    Values: exact per-lang aggregates of the post-merge table."""
    import shutil
    import tempfile

    from ip_filter_spark.sources.snapshots import SnapshotTable

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    n = docs.agg(F.max("doc_id")).first()[0] + 1
    work = tempfile.mkdtemp(prefix="ifs_upsert_")
    try:
        table = SnapshotTable(os.path.join(work, "docs_table"))
        for i in range(4):
            table.append(
                docs.where(F.col("doc_id") % 4 == i),
                stats_cols=["doc_id"],
                bloom_cols=["doc_id"],
            )
        updates = docs.where(F.col("doc_id") % 10 == 3).withColumn(
            "n_chars", F.col("n_chars") + 1000
        )
        inserts = spark.range(5).select(
            (F.lit(n) + F.col("id")).alias("doc_id"),
            F.lit("xx").alias("lang"),
            F.lit(42).cast("long").alias("n_chars"),
        )
        sid, rewritten, total = table.merge_upsert(spark, updates.unionByName(inserts), "doc_id")
        assert (rewritten, total) == (2, 4), (rewritten, total)
        pre_rows = table.read(spark, sid=4).count()
        out = table.read(spark).groupBy("lang").agg(
            F.count("*").alias("n_docs"), F.sum("n_chars").alias("sum_chars")
        )
        rows = out.collect()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(rows, out.schema).select(
        "*",
        F.lit(rewritten).cast("long").alias("files_rewritten"),
        F.lit(total).cast("long").alias("files_total"),
        F.lit(pre_rows).cast("long").alias("pre_upsert_rows"),
    )


SNAPSHOT_UPSERT_SQL = """
WITH b AS (SELECT MAX(doc_id) + 1 AS n, COUNT(*) AS total FROM documents),
merged AS (
  SELECT doc_id, lang,
         CASE WHEN doc_id % 10 = 3 THEN n_chars + 1000 ELSE n_chars END AS n_chars
  FROM documents
  UNION ALL
  SELECT n + x AS doc_id, 'xx' AS lang, 42 AS n_chars
  FROM (SELECT unnest([0, 1, 2, 3, 4]) AS x), b)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(2 AS BIGINT) AS files_rewritten,
       CAST(4 AS BIGINT) AS files_total,
       (SELECT CAST(total AS BIGINT) FROM b) AS pre_upsert_rows
FROM merged GROUP BY lang
"""


def table_diff_events(spark, sf_dir):
    """Table reconciliation (anti-entropy diff) — the migration/backfill
    audit run before cutting over a pipeline: FULL OUTER join two table
    versions on the key and classify every key as only_left /
    only_right / changed / same, rolled up to counts + exact id
    checksums. The 'right' version is derived deterministically from the
    left (drop id%101, perturb value where id%97, append id%103 clones
    under shifted ids) so the gate plants a known nonzero row set in all
    four classes at every sf. Values compare as exact cents; one
    shuffle per side on the key. At 100 TB the same plan runs with the
    right side as the migrated table and bucketed layouts make the join
    Exchange-free."""
    ev = _t(spark, sf_dir, "events")
    l = ev.select(
        "event_id", "user_id", "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    r = l.where(F.col("event_id") % 101 != 0).withColumn(
        "cents",
        F.when(F.col("event_id") % 97 == 0, F.col("cents") + 100).otherwise(
            F.col("cents")
        ),
    ).unionAll(
        l.where(F.col("event_id") % 103 == 0).withColumn(
            "event_id", F.col("event_id") + 1000000000
        )
    )
    j = l.alias("l").join(
        r.alias("r"), F.col("l.event_id") == F.col("r.event_id"), "full_outer"
    )
    status = (
        F.when(F.col("r.event_id").isNull(), "only_left")
        .when(F.col("l.event_id").isNull(), "only_right")
        .when(
            (F.col("l.cents") != F.col("r.cents"))
            | (F.col("l.user_id") != F.col("r.user_id"))
            | (F.col("l.event_type") != F.col("r.event_type")),
            "changed",
        )
        .otherwise("same")
    )
    return (
        j.select(
            F.coalesce(F.col("l.event_id"), F.col("r.event_id")).alias("id"),
            status.alias("status"),
        )
        .groupBy("status")
        .agg(F.count("*").alias("n"), F.sum("id").alias("id_checksum"))
    )


TABLE_DIFF_SQL = """
WITH l AS (SELECT event_id, user_id, event_type,
             CAST(round(value * 100) AS BIGINT) AS cents FROM events),
r AS (SELECT event_id, user_id, event_type,
             CASE WHEN event_id % 97 = 0 THEN cents + 100 ELSE cents END AS cents
      FROM l WHERE event_id % 101 <> 0
      UNION ALL
      SELECT event_id + 1000000000, user_id, event_type, cents
      FROM l WHERE event_id % 103 = 0),
j AS (SELECT COALESCE(l.event_id, r.event_id) AS id,
        CASE WHEN r.event_id IS NULL THEN 'only_left'
             WHEN l.event_id IS NULL THEN 'only_right'
             WHEN l.cents <> r.cents OR l.user_id <> r.user_id
                  OR l.event_type <> r.event_type THEN 'changed'
             ELSE 'same' END AS status
      FROM l FULL OUTER JOIN r ON l.event_id = r.event_id)
SELECT status, COUNT(*) AS n, CAST(SUM(id) AS BIGINT) AS id_checksum
FROM j GROUP BY 1
"""


def keyset_pagination_events(spark, sf_dir):
    """Deep pagination without OFFSET — page 3 (rows 41-60) of the
    event log ordered by (ts, event_id). OFFSET is the API-pagination
    scale trap: every page re-sorts and skips 40+k rows through one
    task. The engine-side form is two TakeOrderedAndProject heaps
    (per-partition top-k, tiny driver merge — never a global sort) and
    an exact multiset difference: page = top60 exceptAll top40. The
    oracle IS the OFFSET form, so the gate proves heap-difference ≡
    LIMIT 20 OFFSET 40 row for row; (ts, event_id) is a total order so
    both are deterministic."""
    ev = _t(spark, sf_dir, "events")
    cols = ["event_id", "user_id", "event_type"]
    top60 = ev.orderBy("ts", "event_id").limit(60).select(*cols)
    top40 = ev.orderBy("ts", "event_id").limit(40).select(*cols)
    return top60.exceptAll(top40)


KEYSET_PAGINATION_SQL = """
SELECT event_id, user_id, event_type FROM events
ORDER BY ts, event_id LIMIT 20 OFFSET 40
"""


def merkle_diff_events(spark, sf_dir):
    """Merkle range checksums for anti-entropy — how replicated stores
    LOCATE divergent key ranges without comparing rows: both table
    versions fold to per-bucket (count, XOR-of-row-fingerprint) at two
    granularities (8 coarse, 64 fine buckets by key range); unequal
    coarse buckets point to the fine buckets to walk, and only THOSE
    keys ever need row-level diffing (``table_diff_events`` is that
    row-level step). XOR is order-independent and overflow-free, and the
    fingerprint is built from bounded residues so both engines compute
    identical BIGINTs. The right version drops id%101 keys and perturbs
    id%97 values (same derivation as table_diff_events), planting known
    unequal buckets at every sf. Shuffle is O(buckets), never O(rows
    moved to a comparator)."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    right = ev.where(F.col("event_id") % 101 != 0).withColumn(
        "cents",
        F.when(F.col("event_id") % 97 == 0, F.col("cents") + 100).otherwise(
            F.col("cents")
        ),
    )
    fp = (F.col("event_id") % 100003) * (F.col("user_id") % 997 + 1) + (
        F.col("cents") % 100003
    )

    def side(df, nb, lvl, tag):
        return df.groupBy(
            F.lit(lvl).cast("int").alias("level"),
            (F.col("event_id") % nb).alias("bucket"),
        ).agg(F.count("*").alias(f"n_{tag}"), F.bit_xor(fp).alias(f"h_{tag}"))

    levels = []
    for lvl, nb in ((0, 8), (1, 64)):
        j = side(ev, nb, lvl, "left").join(
            side(right, nb, lvl, "right"), ["level", "bucket"], "full_outer"
        )
        levels.append(j)
    out = levels[0].unionByName(levels[1])
    nl, hl = F.coalesce("n_left", F.lit(0)), F.coalesce("h_left", F.lit(0))
    nr, hr = F.coalesce("n_right", F.lit(0)), F.coalesce("h_right", F.lit(0))
    return out.select(
        "level",
        "bucket",
        nl.alias("n_left"),
        hl.alias("h_left"),
        nr.alias("n_right"),
        hr.alias("h_right"),
        ((nl == nr) & (hl == hr)).alias("equal"),
    )


MERKLE_DIFF_SQL = """
WITH l AS (SELECT event_id, user_id,
             CAST(round(value * 100) AS BIGINT) AS cents FROM events),
r AS (SELECT event_id, user_id,
             CASE WHEN event_id % 97 = 0 THEN cents + 100 ELSE cents END AS cents
      FROM l WHERE event_id % 101 <> 0),
lf AS (SELECT *, (event_id % 100003) * (user_id % 997 + 1) + cents % 100003
         AS fp FROM l),
rf AS (SELECT *, (event_id % 100003) * (user_id % 997 + 1) + cents % 100003
         AS fp FROM r),
la AS (SELECT CAST(0 AS INTEGER) AS level, event_id % 8 AS bucket,
         COUNT(*) AS n_left, bit_xor(fp) AS h_left FROM lf GROUP BY 2
       UNION ALL
       SELECT CAST(1 AS INTEGER), event_id % 64, COUNT(*), bit_xor(fp)
       FROM lf GROUP BY 2),
ra AS (SELECT CAST(0 AS INTEGER) AS level, event_id % 8 AS bucket,
         COUNT(*) AS n_right, bit_xor(fp) AS h_right FROM rf GROUP BY 2
       UNION ALL
       SELECT CAST(1 AS INTEGER), event_id % 64, COUNT(*), bit_xor(fp)
       FROM rf GROUP BY 2)
SELECT COALESCE(la.level, ra.level) AS level,
       COALESCE(la.bucket, ra.bucket) AS bucket,
       COALESCE(n_left, 0) AS n_left, COALESCE(h_left, 0) AS h_left,
       COALESCE(n_right, 0) AS n_right, COALESCE(h_right, 0) AS h_right,
       (COALESCE(n_left, 0) = COALESCE(n_right, 0)
        AND COALESCE(h_left, 0) = COALESCE(h_right, 0)) AS equal
FROM la FULL OUTER JOIN ra ON la.level = ra.level AND la.bucket = ra.bucket
"""


def incremental_sketch_update_docs(spark, sf_dir):
    """Incremental sketch maintenance over the snapshot source — the
    nightly-delta shape at 10^12 files: commit the corpus as two
    manifest-backed snapshots, build HLL + Bloom over snapshot 1, then
    fold in ONLY the O(delta) incremental (s1, s2] scan and demand the
    result be BYTE-IDENTICAL to a full rebuild over the current
    snapshot. That's merge associativity (pytest-proven per sketch)
    applied to the maintenance loop the reference leaves as future work
    (it rebuilds from a full scan every run,
    /root/reference/prototype/ipfilter.py:124-143): sketch(base) ⊕
    sketch(delta) ≡ sketch(base ∪ delta), so a checkpointed blob plus a
    delta read replaces a corpus re-scan. Keys are the engine's
    sha256(text) digests (the reference's per-row hashing invariant).

    Cross-engine anchors: total docs and exact distinct texts (the HLL's
    ground truth); the byte-equality and the published error bound ride
    booleans."""
    import shutil
    import tempfile

    from ip_filter_spark.engine import SketchSpec, build_and_merge
    from ip_filter_spark.sources.snapshots import SnapshotTable

    docs = _t(spark, sf_dir, "documents")
    specs = [
        SketchSpec("hll", {"p": 14}),
        SketchSpec("bloom", {"fpp": 1e-4, "n": 100_000}),
    ]
    key = F.col("text")
    work = tempfile.mkdtemp(prefix="ifs_incr_")
    try:
        table = SnapshotTable(os.path.join(work, "docs_table"))
        s1 = table.append(docs.where(F.col("doc_id") % 2 == 0))
        s2 = table.append(docs.where(F.col("doc_id") % 2 == 1))
        base = build_and_merge(table.read(spark, s1), specs, key=key)
        delta = build_and_merge(table.incremental(spark, s1, s2), specs, key=key)
        full = build_and_merge(table.read(spark), specs, key=key)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    folded = {k: base[k].merge(delta[k]) for k in base}
    hll_key, bloom_key = specs[0].key(), specs[1].key()
    hll_same = folded[hll_key].to_bytes() == full[hll_key].to_bytes()
    bloom_same = folded[bloom_key].to_bytes() == full[bloom_key].to_bytes()

    stats = docs.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.countDistinct("text").cast("long").alias("distinct_texts"),
    ).first()
    est = folded[hll_key].estimate()
    bound = folded[hll_key].rel_error_bound()
    within = abs(est - stats["distinct_texts"]) <= bound * stats["distinct_texts"]
    return spark.createDataFrame(
        [
            (
                int(stats["n_docs"]),
                int(stats["distinct_texts"]),
                bool(hll_same),
                bool(bloom_same),
                bool(within),
            )
        ],
        "n_docs long, distinct_texts long, hll_incremental_byte_identical "
        "boolean, bloom_incremental_byte_identical boolean, "
        "hll_within_bound boolean",
    )


INCREMENTAL_SKETCH_SQL = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT text) AS BIGINT) AS distinct_texts,
       TRUE AS hll_incremental_byte_identical,
       TRUE AS bloom_incremental_byte_identical,
       TRUE AS hll_within_bound
FROM documents
"""


def snapshot_vacuum_docs(spark, sf_dir):
    """Table-lifecycle GC under the hard gate: CoW DELETE strands the
    rewritten-away file sets, ``expire_snapshots`` drops the old
    manifests that still referenced them, ``vacuum`` reclaims exactly
    those orphans — and a vacuum run while old manifests are live must
    delete NOTHING (every reader plans from a manifest, so an
    unreferenced file set is unreachable by construction; that safety
    invariant is gated as an integer, not assumed).  Completes the
    snapshot source's lifecycle: time travel / incremental / pruning /
    bloom skipping / schema evolution / CoW MERGE+DELETE / compaction
    were already gated; this is Iceberg's expire_snapshots +
    remove_orphan_files.  Values: exact per-lang aggregates of the
    post-delete table READ AFTER VACUUM (proving reclamation broke no
    read) + the planned lifecycle integers (ids ≡ 3 (mod 10) live in
    append buckets 1 and 3 (mod 4) → 2 file sets rewritten into one
    survivor set → 2 reclaimed, 3 live)."""
    _ensure_shipped(spark)
    import shutil
    import tempfile

    from ip_filter_spark.sources.snapshots import SnapshotTable

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    work = tempfile.mkdtemp(prefix="ifs_vacuum_")
    try:
        table = SnapshotTable(os.path.join(work, "docs_table"))
        for i in range(4):
            table.append(
                docs.where(F.col("doc_id") % 4 == i),
                stats_cols=["doc_id"],
                bloom_cols=["doc_id"],
            )
        doomed = [r.doc_id for r in docs.where(F.col("doc_id") % 10 == 3).select("doc_id").collect()]
        _sid, rewritten, total = table.delete_keys(spark, "doc_id", doomed)
        assert (rewritten, total) == (2, 4), (rewritten, total)
        pre = table.vacuum()  # all file sets still referenced by manifests 1-4
        expired = table.expire_snapshots(keep_last=1)
        post = table.vacuum()
        out = table.read(spark).groupBy("lang").agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
        rows = out.collect()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(rows, out.schema).select(
        "*",
        F.lit(len(pre["deleted"])).cast("long").alias("deleted_while_referenced"),
        F.lit(len(expired)).cast("long").alias("snapshots_expired"),
        F.lit(len(post["deleted"])).cast("long").alias("filesets_reclaimed"),
        F.lit(len(post["kept"])).cast("long").alias("filesets_live"),
    )


SNAPSHOT_VACUUM_SQL = """
SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(0 AS BIGINT) AS deleted_while_referenced,
       CAST(4 AS BIGINT) AS snapshots_expired,
       CAST(2 AS BIGINT) AS filesets_reclaimed,
       CAST(3 AS BIGINT) AS filesets_live
FROM documents
WHERE doc_id % 10 <> 3
GROUP BY lang
"""


def snapshot_mor_delete_docs(spark, sf_dir):
    """MERGE-ON-READ row-level deletes (Iceberg v2 equality deletes)
    under the hard gate — the O(delta) write-amplification regime CoW
    can't offer: the doomed keys land in ONE tiny delete file, zero
    data files rewritten; reads apply the delete as a broadcast
    anti-join.  Gated lifecycle: time travel to the pre-delete snapshot
    still counts every row; CoW ops REFUSE over pending delete files
    (mis-composition is an error, not a silent wrong answer);
    compaction folds the deletes into the data (2 touched file sets →
    one survivor) and the post-compaction read equals the MoR read
    row-for-row; after expiry, vacuum reclaims the 2 stranded data sets
    + the delete file = 3.  Values: per-lang aggregates of the MoR
    read, exact vs DuckDB."""
    _ensure_shipped(spark)
    import shutil
    import tempfile

    from ip_filter_spark.sources.snapshots import SnapshotTable

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    work = tempfile.mkdtemp(prefix="ifs_mor_")
    try:
        table = SnapshotTable(os.path.join(work, "docs_table"))
        for i in range(4):
            table.append(
                docs.where(F.col("doc_id") % 4 == i),
                stats_cols=["doc_id"],
                bloom_cols=["doc_id"],
            )
        doomed = [r.doc_id for r in docs.where(F.col("doc_id") % 10 == 3).select("doc_id").collect()]
        _sid, n_del = table.delete_keys_mor(spark, "doc_id", doomed)
        pre_rows = table.read(spark, sid=4).count()  # pre-delete snapshot unaffected
        out = table.read(spark).groupBy("lang").agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
        mor_rows = out.collect()
        refused = False
        try:
            table.merge_upsert(spark, docs.limit(1), "doc_id")
        except ValueError:
            refused = True
        _csid, rewritten, total = table.compact_deletes(spark)
        assert (rewritten, total) == (2, 4), (rewritten, total)
        post_rows = table.read(spark).groupBy("lang").agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        ).collect()
        post_equal = sorted(map(tuple, mor_rows)) == sorted(map(tuple, post_rows))
        expired = table.expire_snapshots(keep_last=1)
        rec = table.vacuum()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(mor_rows, out.schema).select(
        "*",
        F.lit(pre_rows).cast("long").alias("pre_delete_rows"),
        F.lit(n_del).cast("long").alias("n_delete_keys"),
        F.lit(rewritten).cast("long").alias("compact_rewritten"),
        F.lit(total).cast("long").alias("compact_total"),
        F.lit(refused).alias("cow_refused_while_pending"),
        F.lit(post_equal).alias("post_compact_equals_mor"),
        F.lit(len(expired)).cast("long").alias("snapshots_expired"),
        F.lit(len(rec["deleted"])).cast("long").alias("filesets_reclaimed"),
        F.lit(len(rec["kept"])).cast("long").alias("filesets_live"),
    )


SNAPSHOT_MOR_SQL = """
SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       (SELECT COUNT(*) FROM documents) AS pre_delete_rows,
       (SELECT COUNT(DISTINCT doc_id) FROM documents WHERE doc_id % 10 = 3) AS n_delete_keys,
       CAST(2 AS BIGINT) AS compact_rewritten,
       CAST(4 AS BIGINT) AS compact_total,
       TRUE AS cow_refused_while_pending,
       TRUE AS post_compact_equals_mor,
       CAST(5 AS BIGINT) AS snapshots_expired,
       CAST(3 AS BIGINT) AS filesets_reclaimed,
       CAST(3 AS BIGINT) AS filesets_live
FROM documents
WHERE doc_id % 10 <> 3
GROUP BY lang
"""


def python_datasource_splitmix(spark, sf_dir):
    """The Spark 4 PYTHON DATASOURCE API under the hard gate
    (sources/pyds.py::SplitmixDataSource): the engine's splitmix64 hash
    kernel registered as ``spark.read.format('ifs_splitmix')`` — driver
    plans InputPartitions, each task emits its range as Arrow batches.
    n is data-scaled (the events row count) so the gate is non-trivial
    at every sf.  Values are order-independent exact reductions over
    the full stream (count, bit_xor, min, max, Σi) — any wrong,
    missing, duplicated or partition-shifted hash flips the xor; the
    DuckDB oracle recomputes the identical uint64 stream with HUGEINT
    split-multiply modular arithmetic, bit-exact."""
    _ensure_shipped(spark)
    from ip_filter_spark.sources.pyds import SplitmixDataSource

    try:
        spark.dataSource.register(SplitmixDataSource)
    except Exception:
        pass  # already registered in this session
    n = _t(spark, sf_dir, "events").count()
    df = (
        spark.read.format("ifs_splitmix")
        .option("n", n).option("seed", 7).option("partitions", 16)
        .load()
    )
    return df.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.bit_xor("h").alias("xor_h"),
        F.min("h").alias("min_h"),
        F.max("h").alias("max_h"),
        F.sum("i").cast("long").alias("sum_i"),
    )


def _splitmix_sql(seed: int = 7) -> str:
    two64 = 1 << 64

    def mulmod(x: str, m: int) -> str:
        return (
            f"CAST(((CAST(({x}) & 4294967295 AS HUGEINT) * {m}) + "
            f"((CAST(({x}) >> 32 AS HUGEINT) * {m}) % 4294967296) * 4294967296) "
            f"% {two64} AS UBIGINT)"
        )

    return f"""
WITH t AS (SELECT CAST(ROW_NUMBER() OVER () - 1 AS UBIGINT) AS i FROM events),
s1 AS (SELECT i, CAST((CAST(i AS HUGEINT) + {(seed * 0x9E3779B97F4A7C15) % two64})
                      % {two64} AS UBIGINT) AS z FROM t),
s2 AS (SELECT i, {mulmod("xor(z, z >> 30)", 0xBF58476D1CE4E5B9)} AS z FROM s1),
s3 AS (SELECT i, {mulmod("xor(z, z >> 27)", 0x94D049BB133111EB)} AS z FROM s2),
h AS (SELECT i, CAST(CASE WHEN xor(z, z >> 31) >= 9223372036854775808
                          THEN CAST(xor(z, z >> 31) AS HUGEINT) - {two64}
                          ELSE CAST(xor(z, z >> 31) AS HUGEINT) END AS BIGINT) AS h
      FROM s3)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows, bit_xor(h) AS xor_h,
       MIN(h) AS min_h, MAX(h) AS max_h, CAST(SUM(i) AS BIGINT) AS sum_i
FROM h
"""


def dynamic_partition_overwrite_events(spark, sf_dir):
    """Dynamic partition overwrite (INSERT OVERWRITE only the partitions
    the batch touches — the nightly-restatement primitive for a
    date-partitioned lake table): events written partitioned by day,
    then ONE day's rows are restated (value doubled) with
    ``partitionOverwriteMode=dynamic`` — every other day's files must
    survive UNTOUCHED (gated: file inventory outside the restated
    partition identical before/after, restated partition rewritten),
    and a static-mode overwrite of the same frame would have dropped
    them.  Values: per-day aggregates of the post-restatement table,
    exact vs DuckDB applying the restatement logically."""
    _ensure_shipped(spark)
    import shutil
    import tempfile

    ev = _t(spark, sf_dir, "events").select(
        "event_id", F.to_date("ts").cast("string").alias("day"), "value"
    )
    target_day = ev.agg(F.min("day")).first()[0]
    work = tempfile.mkdtemp(prefix="ifs_dpo_")
    path = os.path.join(work, "events_by_day")
    old_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    try:
        ev.write.partitionBy("day").parquet(path)

        def inventory():
            out = {}
            for d in os.listdir(path):
                if d.startswith("day="):
                    files = sorted(
                        fn for fn in os.listdir(os.path.join(path, d))
                        if fn.endswith(".parquet")
                    )
                    out[d] = files
            return out

        before = inventory()
        restated = (
            spark.read.parquet(path)
            .where(F.col("day") == target_day)
            .withColumn("value", F.col("value") * 2)
        )
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        restated.select("event_id", "value", "day").write.mode("overwrite").partitionBy(
            "day"
        ).parquet(path)
        after = inventory()
        untouched = {d: f for d, f in before.items() if d != f"day={target_day}"}
        others_survived = all(after.get(d) == f for d, f in untouched.items())
        target_rewritten = after.get(f"day={target_day}") != before.get(f"day={target_day}")
        out = (
            spark.read.parquet(path)
            .groupBy("day")
            .agg(
                F.count("*").cast("long").alias("n"),
                F.sum("event_id").cast("long").alias("id_sum"),
                F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total_value"),
            )
        )
        rows = out.collect()
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old_mode)
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(rows, out.schema).select(
        "*",
        F.lit(others_survived).alias("other_partitions_untouched"),
        F.lit(target_rewritten).alias("target_partition_rewritten"),
    )


DYNAMIC_PARTITION_OVERWRITE_SQL = """
SELECT CAST(ts AS DATE)::VARCHAR AS day, COUNT(*) AS n,
       CAST(SUM(event_id) AS BIGINT) AS id_sum,
       CAST(SUM(CAST(CASE WHEN CAST(ts AS DATE) = (SELECT MIN(CAST(ts AS DATE)) FROM events)
                          THEN value * 2 ELSE value END AS DECIMAL(18,4))) AS DOUBLE) AS total_value,
       TRUE AS other_partitions_untouched,
       TRUE AS target_partition_rewritten
FROM events
GROUP BY day
"""


__all__ = [
    "partition_pruned_events",
    "PARTITION_PRUNED_SQL",
    "sorted_export_events",
    "SORTED_EXPORT_SQL",
    "zorder_layout_events",
    "ZORDER_LAYOUT_SQL",
    "bloom_pruned_scan_events",
    "BLOOM_PRUNED_SCAN_SQL",
    "cdc_upsert_events",
    "referential_integrity_audit",
    "REFERENTIAL_INTEGRITY_SQL",
    "multi_format_roundtrip_docs",
    "MULTI_FORMAT_RT_SQL",
    "compact_small_files_docs",
    "COMPACT_SMALL_FILES_SQL",
    "snapshot_incremental_docs",
    "SNAPSHOT_INCREMENTAL_SQL",
    "snapshot_pruned_scan_docs",
    "SNAPSHOT_PRUNED_SQL",
    "snapshot_schema_evolution_docs",
    "SNAPSHOT_EVOLUTION_SQL",
    "snapshot_bloom_point_docs",
    "SNAPSHOT_BLOOM_POINT_SQL",
    "snapshot_upsert_docs",
    "SNAPSHOT_UPSERT_SQL",
    "table_diff_events",
    "TABLE_DIFF_SQL",
    "keyset_pagination_events",
    "KEYSET_PAGINATION_SQL",
    "merkle_diff_events",
    "MERKLE_DIFF_SQL",
    "incremental_sketch_update_docs",
    "INCREMENTAL_SKETCH_SQL",
    "snapshot_vacuum_docs",
    "SNAPSHOT_VACUUM_SQL",
    "snapshot_mor_delete_docs",
    "SNAPSHOT_MOR_SQL",
    "python_datasource_splitmix",
    "_splitmix_sql",
    "dynamic_partition_overwrite_events",
    "DYNAMIC_PARTITION_OVERWRITE_SQL",
]
