"""Manifest-based snapshot tables — the Iceberg-shaped source contract.

The production target is an Iceberg catalog table of source-code
repositories at 10^12-file scale (``sources/tables.py::read_source_table``
plugs straight into one).  This sandbox has no Iceberg runtime jars, so
this module implements the *table-format contract the engine actually
relies on* — append-only snapshots described by manifest files — over
plain parquet, exactly the mechanism Iceberg's metadata layer provides:

- **snapshot isolation / time travel**: ``read(spark, sid)`` plans a scan
  over only the data files listed in snapshot ``sid``'s manifest, so a
  reader pinned to a snapshot never sees files appended after it.
- **incremental scan**: ``incremental(spark, from_sid, to_sid)`` plans a
  scan over only the files *added* between two snapshots — O(delta), not
  O(table).  At 10^12 files this is the difference between re-sketching
  the corpus nightly and folding yesterday's delta into the existing
  mergeable sketch blobs (``engine.py`` partials are built for exactly
  this: build partials over the delta, OR/sum-merge into the checkpointed
  pyramid).
- **atomic commits**: a snapshot becomes visible only when its manifest
  JSON is renamed into place; a crashed writer leaves data files but no
  manifest, and readers never see them.
- **min/max file skipping**: ``append(df, stats_cols=[...])`` records
  per-file-set column bounds in the manifest (Iceberg's per-data-file
  ``lower_bounds``/``upper_bounds``); ``read_pruned`` plans only the
  files whose [min, max] intersects the predicate range.  At 10^12
  files this is what makes a point/range query O(files-that-matter)
  instead of O(table) — the planning never opens a parquet footer, it
  reads manifest JSON only.  Bounds are typed by the manifest schema, so
  decimal, date and timestamp bounds round-trip exactly too.
- **schema evolution**: each manifest records the table schema; later
  appends may add columns (a conflicting type is refused before any
  write).  Every scan reads with that schema, so older files read a new
  column as NULL (Iceberg's add-column semantics) and no footer is read.
- **Bloom-filter file skipping**: ``append(df, bloom_cols=[...])``
  builds one of the library's own Bloom sketches per file set per
  column (distributed build via ``engine.build_and_merge`` — partials
  per partition, OR-merge — so the blob never funnels row data to the
  driver) and stores the blob in the manifest; ``read_point`` plans a
  ``col = value`` lookup by probing each file set's bloom driver-side.
  Every planner shares ``skipping.py``'s one skip test and one key
  hash: a probe key is cast to the column's Spark type (read from the
  manifest schema) and digested by the build's own JVM expression, so
  double, boolean and decimal keys hash exactly as they were built.
  This is what min/max bounds cannot do when appends interleave the key
  space (every file's [min, max] spans the whole domain): the bloom
  skips all-but-the-matching file sets with FPP chosen at append time.
  Iceberg and Parquet expose the same mechanism (per-file bloom
  filters); here it composes the repo's own filter kernel — the
  reference's ip-filter idea applied to table planning.
- **copy-on-write MERGE / DELETE**: ``merge_upsert``, ``delete_keys``
  and ``compact_deletes`` rewrite ONLY the file sets that may hold
  affected keys (planned on the executors via the same manifest
  blooms/stats, so no key reaches the driver) and commit a new
  snapshot whose file list swaps the touched files for their rewritten
  survivors — O(files-touched) data I/O, never O(table), which is the
  whole point of CoW at 10^12 files.  Readers pinned to older
  snapshots keep seeing the pre-upsert rows (snapshot isolation).  A
  rewrite keeps the index spec the live file sets record.

Manifests are tiny JSON (schema + file list + per-file-set bounds and
blooms + parent pointer + row counts) — the driver-side cost of planning
a scan is O(files-in-snapshot) metadata, never data.  Real Iceberg shards
this into manifest *lists* at the 10^12-file scale; the contract exposed
to the engine is identical.

Reference analog: the reference rebuilds its filter from a full table
scan on every run (``/root/reference/prototype/ipfilter.py:124-143``);
snapshot deltas + mergeable partials replace that with incremental
maintenance — the capability its report's future-work section asks for.
"""

from __future__ import annotations

import json
import os
import uuid
from decimal import Decimal

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_MANIFEST_PREFIX = "manifest-"

# snapshot 0, the empty table every first append commits after
_EMPTY = {
    "sid": 0, "schema": T.StructType([]).jsonValue(), "rows": 0,
    "files": [], "added_files": [], "delete_files": [], "file_stats": {}, "file_blooms": {},
}

# [min, max] bound codec: JSON holds these types' collected values as
# they are; decimals travel as strings, dates and timestamps as Spark's
# internal ints (days / microseconds since the epoch)
_PLAIN_BOUNDS = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.FloatType, T.DoubleType, T.StringType, T.BooleanType
)
_BOUND_TYPES = (*_PLAIN_BOUNDS, T.DecimalType, T.DateType, T.TimestampType, T.TimestampNTZType)


def _encode_bound(v, dtype):
    if v is None or isinstance(dtype, _PLAIN_BOUNDS):
        return v
    return str(v) if isinstance(dtype, T.DecimalType) else dtype.toInternal(v)


def _decode_bound(v, dtype):
    if v is None or isinstance(dtype, _PLAIN_BOUNDS):
        return v
    return Decimal(v) if isinstance(dtype, T.DecimalType) else dtype.fromInternal(v)


def _schema(m: dict) -> T.StructType:
    return T.StructType.fromJson(m["schema"])


def _merge_schema(schema: T.StructType, new: T.StructType) -> T.StructType:
    """``schema`` with the columns of ``new`` it lacks appended. Raises
    ``ValueError`` on a column whose type differs between the two."""
    fields = {f.name: f for f in schema}
    for f in new:
        have = fields.setdefault(f.name, f).dataType.simpleString()
        if have != f.dataType.simpleString():
            raise ValueError(f"column {f.name!r} is {f.dataType.simpleString()} here but {have} in the table")
    return T.StructType(list(fields.values()))


def _check_index(schema: T.StructType, stats_cols, bloom_cols) -> None:
    """Raise ``ValueError`` unless every index column is in ``schema``
    and every stats column has a type the bound codec holds."""
    for c in [*stats_cols, *bloom_cols]:
        if c not in schema.names:
            raise ValueError(f"index column {c!r} is not a column of the data")
    for c in stats_cols:
        dtype = schema[c].dataType
        if not isinstance(dtype, _BOUND_TYPES):
            raise ValueError(
                f"stats column {c!r} is {dtype.simpleString()}: manifest bounds cannot hold that type"
            )


def _key_rows(keys: DataFrame, key_col: str, schema: T.StructType) -> DataFrame:
    """``keys[key_col]`` as rows of ``schema``, every other column NULL:
    the doomed-key batch a delete hands ``_rewrite``."""
    return keys.select(
        *[F.col(c) if c == key_col else F.lit(None).cast(schema[c].dataType).alias(c) for c in schema.names]
    )


class SnapshotTable:
    """An append-only snapshot table rooted at ``table_dir``.

    Layout::

        table_dir/
          data/<sid>-<uuid>.parquet/     one parquet dir per file set
          deletes/<sid>-<uuid>.parquet/  one per merge-on-read delete
          manifest-<sid>.json            {"sid", "parent", "schema" (Spark type
            JSON), "files", "added_files", "file_stats" ({rel: {col: [lo, hi]}}),
            "file_blooms" ({rel: {col: hex blob}}), "delete_files", "rows"}

    Snapshot ids are dense integers assigned by each commit (1-based);
    ``parent`` is the previous snapshot (0 = empty table), so the chain
    gives incremental scans for any (from, to] window.
    """

    def __init__(self, table_dir: str):
        self.table_dir = table_dir
        os.makedirs(os.path.join(table_dir, "data"), exist_ok=True)

    # ------------------------------------------------------------ metadata
    def _manifest_path(self, sid: int) -> str:
        return os.path.join(self.table_dir, f"{_MANIFEST_PREFIX}{sid}.json")

    def snapshots(self) -> list[int]:
        """Committed snapshot ids, ascending. Uncommitted data files
        (crashed writers) are invisible by construction."""
        out = []
        for name in os.listdir(self.table_dir):
            if name.startswith(_MANIFEST_PREFIX) and name.endswith(".json"):
                out.append(int(name[len(_MANIFEST_PREFIX) : -len(".json")]))
        return sorted(out)

    def _read_manifest(self, sid: int | None = None) -> dict:
        """Manifest of snapshot ``sid`` (default: current; 0: the empty table)."""
        sid = self.current_snapshot() if sid is None else sid
        if sid == 0:
            return dict(_EMPTY)
        with open(self._manifest_path(sid)) as fh:
            return json.load(fh)

    def current_snapshot(self) -> int:
        sids = self.snapshots()
        return sids[-1] if sids else 0

    @staticmethod
    def _files(m: dict, col: str) -> list[tuple]:
        """(rel, bounds, bloom blob) per file set of manifest ``m`` for
        ``col``, bounds decoded to the column's type; None where the
        manifest records none."""
        dtype = next((f.dataType for f in _schema(m) if f.name == col), None)
        bounds = {rel: [_decode_bound(v, dtype) for v in st[col]] for rel, st in m["file_stats"].items() if col in st}
        return [(rel, bounds.get(rel), m["file_blooms"].get(rel, {}).get(col)) for rel in m["files"]]

    @staticmethod
    def _index_spec(m: dict) -> tuple[list[str], dict[str, float]]:
        """(stats columns, {bloom column: fpp}) recorded by the live file
        sets of manifest ``m``; a column whose blobs differ in fpp takes
        the smallest."""
        from ip_filter_spark.sources.skipping import bloom_of

        live = m["files"]
        stats = list(dict.fromkeys(c for rel in live for c in m["file_stats"].get(rel, {})))
        blooms: dict[str, float] = {}
        for rel in live:
            for c, blob in m["file_blooms"].get(rel, {}).items():
                fpp = bloom_of(blob).fpp
                blooms[c] = min(fpp, blooms.get(c, fpp))
        return stats, blooms

    # -------------------------------------------------------------- write
    def append(
        self,
        df: DataFrame,
        stats_cols: list[str] | None = None,
        bloom_cols: list[str] | None = None,
        bloom_fpp: float = 1e-8,
    ) -> int:
        """Write ``df`` as a new data file set and commit a new snapshot
        containing parent's files + the new ones.  The commit is the
        atomic rename of the manifest into place (POSIX rename within a
        directory is atomic; Iceberg uses the same trick via its catalog
        pointer swap).

        ``df``'s new columns join the manifest schema.  A column whose
        type differs from the table's, an index column ``df`` lacks, or a
        stats type the bounds cannot hold raises ``ValueError`` first.

        ``stats_cols`` columns get [min, max] bounds recorded in the
        manifest for this file set (computed in the same count pass over
        the written files), enabling ``read_pruned`` file skipping.

        ``bloom_cols`` columns additionally get a Bloom sketch of the
        file set's key values in the manifest (sized for ``bloom_fpp``
        at this file set's row count — an upper bound on its distinct
        count, so the realized FPP is at most ``bloom_fpp``), enabling
        ``read_point`` skipping.  The build is one extra distributed
        pass over the just-written delta — O(delta), never O(table).
        Copy-on-write ops keep indexing on these columns at this fpp."""
        m = self._read_manifest()
        stats_cols, blooms = stats_cols or [], dict.fromkeys(bloom_cols or [], bloom_fpp)
        schema = _merge_schema(_schema(m), df.schema)
        _check_index(df.schema, stats_cols, blooms)
        written = self._write_fileset(df, m["sid"] + 1, stats_cols, blooms)
        return self._commit_filesets(m, schema, [], [written])

    def _write_fileset(
        self, df: DataFrame, sid: int, stats_cols: list[str], blooms: dict[str, float]
    ) -> tuple[str, int, dict, dict]:
        """Write one data file set and compute its manifest entries: (rel,
        row count, encoded [min, max] bounds, {column: bloom blob} built
        at each column's fpp)."""
        from ip_filter_spark.engine import SketchSpec, build_and_merge

        rel = f"data/{sid}-{uuid.uuid4().hex[:8]}.parquet"
        path = os.path.join(self.table_dir, rel)
        df.write.mode("errorifexists").parquet(path)
        written = df.sparkSession.read.schema(df.schema).parquet(path)
        aggs = [F.count("*").alias("__n")]
        for c in stats_cols:
            aggs += [F.min(c).alias(f"__lo_{c}"), F.max(c).alias(f"__hi_{c}")]
        row = written.agg(*aggs).first()
        rows = int(row["__n"])
        if not rows:
            return rel, 0, {}, {}
        stats = {
            c: [_encode_bound(row[f"__{e}_{c}"], df.schema[c].dataType) for e in ("lo", "hi")]
            for c in stats_cols
        }
        out = {}
        for c, fpp in blooms.items():
            spec = SketchSpec("bloom", {"fpp": fpp, "n": rows})
            out[c] = build_and_merge(written, [spec], key=c)[spec.key()].to_bytes().hex()
        return rel, rows, stats, out

    def _commit(self, parent: dict, **changes) -> int:
        """Commit the snapshot after manifest ``parent``: its manifest
        with ``changes`` applied, renamed into place. Returns its sid."""
        sid = parent["sid"] + 1
        manifest = {**parent, "sid": sid, "parent": parent["sid"], **changes}
        tmp = self._manifest_path(sid) + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
        os.rename(tmp, self._manifest_path(sid))
        return sid

    def _commit_filesets(
        self, m: dict, schema: T.StructType, dropped: list[str], written: list[tuple], **changes
    ) -> int:
        """Commit the snapshot after ``m`` that swaps file sets ``dropped``
        for the ``written`` ones (``_write_fileset`` tuples).  An empty
        written file set stays out of the manifest, so no scan plans a
        path without rows."""
        dropped, live = set(dropped), [w for w in written if w[1]]
        added = [rel for rel, _, _, _ in live]

        def carried(entries: dict) -> dict:
            return {rel: e for rel, e in entries.items() if rel not in dropped}

        return self._commit(
            m,
            schema=schema.jsonValue(),
            files=[rel for rel in m["files"] if rel not in dropped] + added,
            added_files=added,
            file_stats={**carried(m["file_stats"]), **{rel: st for rel, _, st, _ in live if st}},
            file_blooms={**carried(m["file_blooms"]), **{rel: bl for rel, _, _, bl in live if bl}},
            rows=sum(rows for _, rows, _, _ in written),
            **changes,
        )

    # ----------------------------------------------------- copy-on-write
    def merge_upsert(
        self, spark: SparkSession, updates: DataFrame, key_col: str
    ) -> tuple[int, int, int]:
        """Copy-on-write MERGE (Delta/Iceberg CoW semantics): rows of
        ``updates`` replace current rows with the same ``key_col`` value;
        unmatched keys insert.  Only the file sets that MAY contain an
        affected key (planned via manifest blooms/bounds, no data file
        read) are rewritten; every other file is carried into the new
        snapshot untouched, so the data rewritten is O(files-touched),
        never O(table).  Older snapshots still read the pre-merge rows.

        ``updates`` must carry the table's index columns and at most one
        row per key (standard MERGE precondition); its schema merges as
        an append's does, and the written file sets are indexed as the
        table's are (``_index_spec``).  Returns (new sid,
        files_rewritten, files_total_before).

        Planning runs on the executors (``skipping.plan_keys``): the
        manifest's bounds and blooms are broadcast, each task hashes its
        slice of the batch's keys as the build did and tests them, and
        only the hit file names reach the driver, never a key."""
        return self._rewrite(spark, updates, key_col, insert=True)

    def _doomed(self, spark: SparkSession, m: dict, key_col: str, keys: list | DataFrame) -> DataFrame:
        """``keys`` as one ``key_col`` column of the table's type: a
        DataFrame batch is cast and deduplicated on the executors, a
        Python list is cast by Spark in a tiny driver-local frame."""
        from ip_filter_spark.sources.skipping import literal_keys

        if m["sid"] == 0:
            raise ValueError("a delete needs an existing snapshot; use append() first")
        dtype = _schema(m)[key_col].dataType
        if isinstance(keys, DataFrame):
            return keys.select(F.col(key_col).cast(dtype)).distinct()
        return literal_keys(spark, list(keys), dtype, key_col)

    def delete_keys(
        self, spark: SparkSession, key_col: str, keys: list | DataFrame
    ) -> tuple[int, int, int]:
        """Copy-on-write row-level DELETE by key batch: rewrites only the
        file sets that may contain a doomed key, indexed as before.
        ``keys`` is a Python list for point deletes (each cast to the
        column's type in a tiny driver-local frame, so 13 deletes 13.0
        from a double column), or a DataFrame carrying a ``key_col``
        column for table-scale batches.  Both plan with the
        executor-side manifest probe of ``merge_upsert`` and delete via
        anti-join; a DataFrame batch never reaches the driver.  Returns
        (new sid, files_rewritten, files_total_before)."""
        m = self._read_manifest()
        doomed = _key_rows(self._doomed(spark, m, key_col, keys), key_col, _schema(m))
        return self._rewrite(spark, doomed, key_col, insert=False)

    def delete_keys_mor(
        self, spark: SparkSession, key_col: str, keys: list | DataFrame
    ) -> tuple[int, int]:
        """MERGE-ON-READ row-level DELETE (Iceberg v2 equality deletes):
        the doomed keys land in a tiny delete file under ``deletes/``
        and the new manifest lists it — ZERO data files rewritten
        (write amplification O(delta), the reason MoR exists: CoW
        rewrites whole file sets for a handful of doomed rows).  Every
        read of this or any later snapshot applies the delete as a
        broadcast anti-join at scan time; snapshots committed BEFORE
        the delete keep reading the rows (each manifest carries its own
        delete-file list).  ``compact_deletes`` folds pending delete
        files back into the data (MoR's maintenance half); CoW ops
        refuse to run over pending delete files rather than silently
        mis-compose.  A DataFrame batch is written straight from the
        executors, so its keys never visit the driver.  Returns
        (new sid, n_delete_keys)."""
        m = self._read_manifest()
        keys_df = self._doomed(spark, m, key_col, keys)
        rel = f"deletes/{m['sid'] + 1}-{uuid.uuid4().hex[:8]}.parquet"
        path = os.path.join(self.table_dir, rel)
        keys_df.write.mode("errorifexists").parquet(path)
        if isinstance(keys, DataFrame):
            n_keys = spark.read.schema(keys_df.schema).parquet(path).count()
        else:
            n_keys = len(keys)
        dels = m["delete_files"] + [{"path": rel, "key_col": key_col}]
        sid = self._commit(m, added_files=[], delete_files=dels)
        return sid, n_keys

    def compact_deletes(self, spark: SparkSession) -> tuple[int, int, int]:
        """Fold pending MoR delete files into the data (Iceberg's
        rewrite_data_files over deletes): a CoW rewrite of ONLY the file
        sets that may hold a doomed key, indexed as before, committing a
        manifest with the delete-file list cleared — reads stop paying
        the anti-join, and the stranded data + delete files become
        ``vacuum`` candidates after ``expire_snapshots``.  No-op
        (returns current sid, 0, total) when nothing is pending.
        Returns (sid, files_rewritten, files_total_before)."""
        m = self._read_manifest()
        pending = self._pending_deletes(spark, m)
        if not pending:
            return m["sid"], 0, len(m["files"])
        if len(pending) != 1:
            raise ValueError("compact_deletes supports one delete key column per run")
        ((key_col, keys),) = pending.items()
        doomed = _key_rows(keys, key_col, _schema(m))
        return self._rewrite(spark, doomed, key_col, insert=False, _compacting_deletes=True)

    def _pending_deletes(self, spark: SparkSession, m: dict) -> dict[str, DataFrame]:
        """{key column: its distinct doomed keys} over the pending delete
        files of manifest ``m``, each read with the column's table type."""
        paths: dict[str, list[str]] = {}
        for d in m["delete_files"]:
            paths.setdefault(d["key_col"], []).append(os.path.join(self.table_dir, d["path"]))
        schema = _schema(m)
        return {c: spark.read.schema(T.StructType([schema[c]])).parquet(*p).distinct() for c, p in paths.items()}

    def _apply_deletes(self, spark: SparkSession, df: DataFrame, m: dict) -> DataFrame:
        """Anti-join the manifest's pending delete files into a scan —
        the MoR read path.  Delete sets are O(delta) so they broadcast;
        a no-delete manifest returns the scan unchanged."""
        for key_col, keys in self._pending_deletes(spark, m).items():
            df = df.join(F.broadcast(keys), key_col, "left_anti")
        return df

    def _rewrite(
        self,
        spark: SparkSession,
        updates: DataFrame,
        key_col: str,
        insert: bool,
        _compacting_deletes: bool = False,
    ) -> tuple[int, int, int]:
        from ip_filter_spark.sources.skipping import plan_keys

        m = self._read_manifest()
        if m["sid"] == 0:
            raise ValueError("copy-on-write needs an existing snapshot; use append() first")
        if m["delete_files"] and not _compacting_deletes:
            raise ValueError(
                "pending merge-on-read delete files; run compact_deletes() before CoW ops"
            )
        schema, (stats_cols, blooms) = _schema(m), self._index_spec(m)
        if insert:
            schema = _merge_schema(schema, updates.schema)
            _check_index(updates.schema, stats_cols, blooms)
        touched = plan_keys(updates, key_col, self._files(m, key_col))
        written = []
        if touched:
            doomed = updates.select(key_col).distinct()
            survivors = self._scan(spark, touched, _schema(m)).join(doomed, key_col, "left_anti")
            written.append(self._write_fileset(survivors, m["sid"] + 1, stats_cols, blooms))
        if insert:
            written.append(self._write_fileset(updates, m["sid"] + 1, stats_cols, blooms))
        # CoW output never carries delete files: a plain rewrite had none
        # pending (it refuses otherwise); compaction folds them in
        sid = self._commit_filesets(m, schema, touched, written, delete_files=[])
        return sid, len(touched), len(m["files"])

    # --------------------------------------------------------------- read
    def _scan(
        self, spark: SparkSession, rel_files: list[str], schema: T.StructType | None = None
    ) -> DataFrame:
        """Scan ``rel_files`` with ``schema`` (default: the current
        snapshot's), so no footer is inferred and a column a file lacks
        reads as NULL.  No files give a zero-row frame of the schema."""
        schema = _schema(self._read_manifest()) if schema is None else schema
        if not rel_files:
            return spark.createDataFrame([], schema)
        return spark.read.schema(schema).parquet(*[os.path.join(self.table_dir, rel) for rel in rel_files])

    def read(self, spark: SparkSession, sid: int | None = None) -> DataFrame:
        """Scan snapshot ``sid`` (default: current) with its manifest
        schema.  Time travel is just planning over an older manifest's
        file list and schema; files written before a column was added
        read it as NULL.  Pending merge-on-read delete files apply as
        broadcast anti-joins — each manifest carries its own delete
        list, so time travel to a pre-delete snapshot still reads the
        rows.  No parquet footer is read."""
        m = self._read_manifest(sid)
        return self._apply_deletes(spark, self._scan(spark, m["files"], _schema(m)), m)

    def plan_pruned(self, col: str, lo, hi, sid: int | None = None) -> tuple[list[str], int]:
        """Manifest-only planning for ``col BETWEEN lo AND hi``: returns
        (files whose recorded [min, max] intersects [lo, hi], total file
        count in the snapshot).  Files with no recorded bounds for
        ``col`` are conservatively kept (exactly Iceberg's rule for
        missing column stats).  Zero data/footer I/O — this is the
        10^12-file planning path."""
        from ip_filter_spark.sources.skipping import may_hold

        m = self._read_manifest(sid)
        return [rel for rel, b, _ in self._files(m, col) if may_hold(b, None, lo, hi, None)], len(m["files"])

    def read_pruned(
        self, spark: SparkSession, col: str, lo, hi, sid: int | None = None
    ) -> tuple[DataFrame, int, int]:
        """Scan only the files ``plan_pruned`` keeps, with the row-level
        predicate applied on top (file skipping is a superset guarantee,
        never a filter).  Returns (df, files_planned, files_total)."""
        m = self._read_manifest(sid)
        kept, total = self.plan_pruned(col, lo, hi, m["sid"])
        df = self._scan(spark, kept, _schema(m)).where(F.col(col).between(lo, hi))
        return self._apply_deletes(spark, df, m), len(kept), total

    def plan_point(self, col: str, value, sid: int | None = None) -> tuple[list[str], int]:
        """Manifest-only planning for ``col = value``: keep a file when
        its Bloom sketch says maybe-present (or it has no bloom for
        ``col`` — conservative, like missing min/max stats), further
        intersected with recorded [min, max] bounds when both exist.
        The value is cast to the column's Spark type (from the manifest
        schema) and hashed by the build's own JVM expression
        (``skipping.probe_keys``), so build and probe agree bit for bit
        on every key type: 13 probes a ``decimal(10,2)`` bloom as
        ``'13.00'`` and 2.5e10 a double bloom as ``'2.5E10'``.  No data
        file or footer is read: the hash is one small Spark job on the
        active session, and the blobs are probed driver-side, O(files)
        at 10^12 files."""
        from ip_filter_spark.sources.skipping import bloom_of, literal_probe, may_hold

        m = self._read_manifest(sid)
        files = self._files(m, col)
        if all(b is None and blob is None for _, b, blob in files):
            return [rel for rel, _, _ in files], len(files)  # nothing recorded for col
        kmin, kmax, h64 = literal_probe(SparkSession.active(), [value], _schema(m)[col].dataType)
        return [rel for rel, b, blob in files if may_hold(b, bloom_of(blob), kmin, kmax, h64)], len(files)

    def read_point(
        self, spark: SparkSession, col: str, value, sid: int | None = None
    ) -> tuple[DataFrame, int, int]:
        """Scan only the files ``plan_point`` keeps, with the row-level
        equality predicate applied on top (bloom skipping is a superset
        guarantee — false positives scan and filter to nothing, never a
        wrong row).  Returns (df, files_planned, files_total); when every
        file is skipped the DataFrame is a zero-row frame of the
        snapshot's schema."""
        m = self._read_manifest(sid)
        kept, total = self.plan_point(col, value, m["sid"])
        df = self._scan(spark, kept, _schema(m)).where(F.col(col) == F.lit(value))
        return self._apply_deletes(spark, df, m), len(kept), total

    def incremental(self, spark: SparkSession, from_sid: int, to_sid: int) -> DataFrame:
        """Scan only files appended in snapshots (from_sid, to_sid] —
        the O(delta) maintenance read, with ``to_sid``'s schema.
        ``from_sid=0`` means 'since the empty table' (equivalent to
        ``read(to_sid)``)."""
        if not 0 <= from_sid < to_sid:
            raise ValueError(f"need 0 <= from_sid < to_sid, got ({from_sid}, {to_sid}]")
        m = self._read_manifest(to_sid)
        schema, added = _schema(m), m["added_files"]
        while m["parent"] > from_sid:
            m = self._read_manifest(m["parent"])
            added = m["added_files"] + added
        return self._scan(spark, added, schema)

    # ------------------------------------------------------------ lifecycle
    def expire_snapshots(self, keep_last: int = 1) -> list[int]:
        """Drop old snapshot manifests, keeping the newest ``keep_last``
        (Iceberg's expire_snapshots): time travel to expired ids stops
        working; their data files become candidates for ``vacuum`` if no
        live manifest still lists them.  Metadata-only — no data I/O.
        Returns the expired snapshot ids."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1 (a table keeps its head)")
        expired = self.snapshots()[:-keep_last]
        for sid in expired:
            os.remove(self._manifest_path(sid))
        return expired

    def vacuum(self) -> dict:
        """Delete data file sets referenced by NO live manifest — the
        storage-reclamation half of the table lifecycle (Iceberg's
        expire_snapshots GC / remove_orphan_files).  CoW rewrites
        (``merge_upsert`` / ``delete_keys``) and ``expire_snapshots``
        strand file sets that only old manifests referenced; since every
        reader plans from a manifest (never a directory listing), an
        unreferenced file set is unreachable by construction and its
        deletion can never break a read — the invariant the gate pins.
        Driver-side metadata walk, O(files) names; the deletes are file
        system operations on whole file sets.
        Returns {"deleted": [...], "kept": [...]} (relative paths)."""
        import shutil

        live: set[str] = set()
        for sid in self.snapshots():
            m = self._read_manifest(sid)
            live.update(m["files"])
            live.update(d["path"] for d in m["delete_files"])
        deleted, kept = [], []
        for sub in ("data", "deletes"):
            subdir = os.path.join(self.table_dir, sub)
            if not os.path.isdir(subdir):
                continue
            for name in sorted(os.listdir(subdir)):
                rel = f"{sub}/{name}"
                if rel in live:
                    kept.append(rel)
                else:
                    shutil.rmtree(os.path.join(subdir, name), ignore_errors=True)
                    deleted.append(rel)
        return {"deleted": deleted, "kept": kept}
