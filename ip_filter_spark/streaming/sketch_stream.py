"""Structured Streaming integration.

Two capabilities:

- ``stream_sketch_build``: incremental sketch maintenance over a stream.
  Each micro-batch runs the same Arrow-vectorized partial build as the
  batch engine and writes blob rows into a ``stream=<ns>/batch_id=N``
  subdirectory of the partial store; because every sketch's merge is
  associative+commutative, the current global sketch is always just a
  merge over the store — no stateful operator. (This is the streaming
  analog of the reference's offline rebuild pipeline,
  /root/reference/setup.py:63-84, which had to rerun from scratch.)

  Exactly-once effect under at-least-once foreachBatch: Spark's
  foreachBatch can re-run a micro-batch whose sink write succeeded but
  whose checkpoint commit did not. A blind ``append`` would then store
  that batch's partials twice — harmless for idempotent merges (HLL
  register max, Bloom OR) but silently double-counting for additive ones
  (Misra–Gries counters, CMS). Instead every batch OVERWRITES its own
  directory: the partial build is deterministic for a given micro-batch,
  so a replay rewrites identical content and the store converges to
  exactly-once regardless of where the previous attempt died.

  The ``stream=<ns>`` level is derived from the checkpoint path: a
  restart from the SAME checkpoint (the only case that replays a batch
  id) lands in the same namespace and overwrites idempotently, while a
  NEW stream over the same store (fresh checkpoint restarts batch ids at
  0) gets its own namespace and cannot clobber earlier runs' data.

- ``windowed_event_counts``: standard watermarked windowed aggregation,
  the built-in-operator path for late-data-tolerant counts.

Store layout::

    store_dir/
      stream=ab12cd34/ batch_id=0/ part-*.parquet    # one dir per batch
      stream=ab12cd34/ batch_id=1/ ...
      stream=compacted/ batch_id=-1/ part-*.parquet _covers.json

Compacted directories carry a ``_covers.json`` manifest naming the
relative directories they replace (Spark readers ignore ``_``-prefixed
files). Readers and subsequent compactions exclude any directory listed
in a live manifest, so a crash between "write compacted dir" and
"delete source dirs" never double-counts.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ip_filter_spark.engine import SketchSpec, _fold_blobs, build_partials, collect_sketches, tree_merge
from ip_filter_spark.sketches.base import Sketch

_COVERS = "_covers.json"
_COMPACT_NS = "compacted"


def _stream_ns(checkpoint_dir: str) -> str:
    return hashlib.sha256(os.path.abspath(checkpoint_dir).encode()).hexdigest()[:12]


def _batch_dir(store_dir: str, ns: str, batch_id: int) -> str:
    return os.path.join(store_dir, f"stream={ns}", f"batch_id={int(batch_id)}")


def _list_parts(store_dir: str) -> dict[str, str]:
    """{relative dir 'stream=ns/batch_id=N' -> absolute path} for every
    batch directory currently in the store."""
    out: dict[str, str] = {}
    if not os.path.isdir(store_dir):
        return out
    for sname in os.listdir(store_dir):
        if not sname.startswith("stream="):
            continue
        sdir = os.path.join(store_dir, sname)
        for bname in os.listdir(sdir):
            if bname.startswith("batch_id="):
                out[f"{sname}/{bname}"] = os.path.join(sdir, bname)
    return out


def _covers_of(path: str) -> list[str]:
    manifest = os.path.join(path, _COVERS)
    if not os.path.exists(manifest):
        return []
    with open(manifest) as f:
        return list(json.load(f)["covers"])


def _live_parts(store_dir: str) -> dict[str, str]:
    """Store directories NOT superseded by a compacted dir's manifest."""
    parts = _list_parts(store_dir)
    covered: set[str] = set()
    for path in parts.values():
        covered.update(_covers_of(path))
    return {rel: p for rel, p in parts.items() if rel not in covered}


def _read_store(spark: SparkSession, store_dir: str) -> DataFrame:
    parts = _live_parts(store_dir)
    if not parts:
        raise FileNotFoundError(f"empty partial store: {store_dir}")
    # basePath keeps stream/batch_id as discovered partition columns even
    # though we enumerate leaf directories (to honor compaction manifests)
    return spark.read.option("basePath", store_dir).parquet(*sorted(parts.values()))


def stream_sketch_build(
    stream_df: DataFrame,
    specs: list[SketchSpec],
    store_dir: str,
    checkpoint_dir: str,
    key=None,
    value=None,
    trigger_available_now: bool = True,
):
    """Start a streaming query that maintains per-batch sketch partials.

    Returns the StreamingQuery. The partial store grows by one row per
    (spec, partition, batch); compact it with ``compact_store`` when it
    gets large. Batch replays are idempotent (see module docstring)."""
    ns = _stream_ns(checkpoint_dir)

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        partials = build_partials(batch_df, specs, key=key, value=value)
        partials.write.mode("overwrite").parquet(_batch_dir(store_dir, ns, batch_id))

    writer = stream_df.writeStream.foreachBatch(handle_batch).option("checkpointLocation", checkpoint_dir)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def merged_sketches_from_store(spark: SparkSession, store_dir: str, specs: list[SketchSpec]) -> dict[str, Sketch]:
    """Current global sketches = associative merge over all live partials."""
    partials = _read_store(spark, store_dir).drop("batch_id", "stream")
    merged = tree_merge(partials)
    got = collect_sketches(merged)
    return {s.key(): got[s.key()] for s in specs}


def windowed_event_counts(
    stream_df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window counts — late rows beyond the watermark
    are dropped by the engine; state is bounded. TIMESTAMP_NTZ columns are
    cast to TIMESTAMP (watermarks require an event-time zone)."""
    stream_df = stream_df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"), F.col(key_col))
        .agg(
            F.count("*").alias("n"),
            # exact decimal sum exposed as double: summation order differs
            # between micro-batch state updates and any batch replica, so a
            # raw double sum would not be value-hash comparable
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            key_col,
            "n",
            "total_value",
        )
    )


def stream_heavy_hitters(
    stream_df: DataFrame,
    key_col: str,
    store_dir: str,
    checkpoint_dir: str,
    capacity: int = 64,
    trigger_available_now: bool = True,
):
    """Streaming Misra–Gries: each micro-batch overwrites its own
    ``stream=<ns>/batch_id=N`` partial directory (MG counter sums are
    additive, NOT idempotent — a replayed append would double-count,
    violating the deterministic est<=true bound; the overwrite protocol
    makes replays converge to exactly-once). The current global
    heavy-hitter summary is a merge over the store
    (``merged_heavy_hitters``); err is additive over merges, still
    <= n_total/(capacity+1)."""
    from ip_filter_spark.operators.topk import mg_partials

    ns = _stream_ns(checkpoint_dir)

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        mg_partials(batch_df, key_col, capacity=capacity).write.mode("overwrite").parquet(
            _batch_dir(store_dir, ns, batch_id)
        )

    writer = stream_df.writeStream.foreachBatch(handle_batch).option("checkpointLocation", checkpoint_dir)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def merged_heavy_hitters(spark: SparkSession, store_dir: str):
    """Current global Misra–Gries summary = merge over all live
    partials (associative, so read order is irrelevant to the bound)."""
    merged = tree_merge(_read_store(spark, store_dir).drop("batch_id", "stream")).collect()
    return _fold_blobs(r.payload for r in merged)


def compact_store(spark: SparkSession, store_dir: str) -> int:
    """Fold all compactable partial directories into one merged directory
    so merge-on-read stays O(1) on an unbounded stream instead of growing
    by one blob per (spec, partition, micro-batch). Returns the number of
    partial rows remaining in the store.

    Crash-safe protocol (safe to run between streaming runs, or while a
    stream is down mid-crash):

    1. Each stream namespace's NEWEST batch directory is never compacted
       — it is the only one a restart of that stream can replay (older
       batches are committed in the streaming checkpoint), and a replay
       must find its own directory to overwrite, not a merged row it
       would then double.
    2. The merged rows are written to a ``_``-prefixed temp dir
       (invisible to readers), then renamed to a fresh
       ``stream=compacted/batch_id=<negative>`` dir whose ``_covers.json``
       manifest lists the source directories (transitively inheriting the
       manifests of compacted dirs it replaces).
    3. Only then are the source directories deleted. Readers and later
       compactions exclude manifest-covered directories, so dying between
       (2) and (3) leaves a store that still reads exactly once; the next
       compaction garbage-collects the leftovers.
    """
    _gc_covered(store_dir)
    parts = _live_parts(store_dir)
    keep: set[str] = set()
    by_ns: dict[str, list[tuple[int, str]]] = {}
    for rel in parts:
        sname, bname = rel.split("/")
        ns = sname.split("=", 1)[1]
        if ns != _COMPACT_NS:
            by_ns.setdefault(ns, []).append((int(bname.split("=", 1)[1]), rel))
    for ns, batches in by_ns.items():
        keep.add(max(batches)[1])
    to_merge = {rel: p for rel, p in parts.items() if rel not in keep}
    if to_merge:
        merge_df = spark.read.option("basePath", store_dir).parquet(*sorted(to_merge.values()))
        merged = tree_merge(merge_df.drop("batch_id", "stream")).collect()
        from ip_filter_spark.engine import SKETCH_ROW_SCHEMA

        # explicit schema: Row-based inference widens partition_id to bigint
        # and the next read would mismatch the appended partials' int32
        out = spark.createDataFrame(merged, schema=SKETCH_ROW_SCHEMA)
        tmp = os.path.join(store_dir, "_compact_tmp")
        out.coalesce(1).write.mode("overwrite").parquet(tmp)
        covers = set(to_merge)
        for p in to_merge.values():
            covers.update(_covers_of(p))
        with open(os.path.join(tmp, _COVERS), "w") as f:
            json.dump({"covers": sorted(covers)}, f)
        old_ids = [
            int(rel.split("batch_id=")[1]) for rel in parts if rel.startswith(f"stream={_COMPACT_NS}/")
        ]
        new_id = min(old_ids + [0]) - 1
        dest = _batch_dir(store_dir, _COMPACT_NS, new_id)
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        os.rename(tmp, dest)
        for p in to_merge.values():
            shutil.rmtree(p, ignore_errors=True)
        _gc_covered(store_dir)
    return _read_store(spark, store_dir).count()


def _gc_covered(store_dir: str) -> None:
    """Delete directories still covered by a manifest (leftovers of a
    compaction that crashed mid-delete), then prune every manifest to the
    entries whose directories remain (normally: empty)."""
    parts = _list_parts(store_dir)
    for rel, path in parts.items():
        manifest = os.path.join(path, _COVERS)
        if not os.path.exists(manifest):
            continue
        remaining = []
        for cov in _covers_of(path):
            if cov != rel and cov in parts:
                shutil.rmtree(parts[cov], ignore_errors=True)
                if os.path.exists(parts[cov]):
                    remaining.append(cov)  # delete failed: keep masking it
        with open(manifest, "w") as f:
            json.dump({"covers": remaining}, f)
