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
  reads manifest JSON only.
- **schema evolution**: later appends may add columns; ``read(...,
  merge_schema=True)`` plans the union schema and back-fills NULLs for
  old files, Iceberg's add-column semantics.
- **Bloom-filter file skipping**: ``append(df, bloom_cols=[...])``
  builds one of the library's own Bloom sketches per file set per
  column (distributed build via ``engine.build_and_merge`` — partials
  per partition, OR-merge — so the blob never funnels row data to the
  driver) and stores the blob in the manifest; ``read_point`` plans a
  ``col = value`` lookup by probing each file set's bloom driver-side.
  Every planner shares ``skipping.py``'s one skip test and one key
  hash: a probe key is cast to the column's Spark type and digested by
  the build's own JVM expression, so double, boolean and decimal keys
  hash exactly as they were built.  This is what min/max bounds cannot
  do when appends interleave the key space (every file's [min, max]
  spans the whole domain): the bloom skips all-but-the-matching file
  sets with FPP chosen at append time.
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
  snapshots keep seeing the pre-upsert rows (snapshot isolation).

Manifests are tiny JSON (file list + parent pointer + row/byte counts) —
the driver-side cost of planning a scan is O(files-in-snapshot) metadata,
never data.  Real Iceberg shards this into manifest *lists* at the
10^12-file scale; the contract exposed to the engine is identical.

Reference analog: the reference rebuilds its filter from a full table
scan on every run (``/root/reference/prototype/ipfilter.py:124-143``);
snapshot deltas + mergeable partials replace that with incremental
maintenance — the capability its report's future-work section asks for.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession

_MANIFEST_PREFIX = "manifest-"


class SnapshotTable:
    """An append-only snapshot table rooted at ``table_dir``.

    Layout::

        table_dir/
          data/<sid>-<uuid>.parquet/   one parquet dir per append
          manifest-<sid>.json          {"sid", "parent", "files", "rows"}

    Snapshot ids are dense integers assigned by ``append`` (1-based);
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

    def _read_manifest(self, sid: int) -> dict:
        with open(self._manifest_path(sid)) as fh:
            return json.load(fh)

    def current_snapshot(self) -> int:
        sids = self.snapshots()
        return sids[-1] if sids else 0

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

        ``stats_cols`` columns get [min, max] bounds recorded in the
        manifest for this file set (computed in the same count pass over
        the written files), enabling ``read_pruned`` file skipping.

        ``bloom_cols`` columns additionally get a Bloom sketch of the
        file set's key values in the manifest (sized for ``bloom_fpp``
        at this file set's row count — an upper bound on its distinct
        count, so the realized FPP is at most ``bloom_fpp``), enabling
        ``read_point`` skipping.  The build is one extra distributed
        pass over the just-written delta — O(delta), never O(table)."""
        from pyspark.sql import functions as F

        parent = self.current_snapshot()
        sid = parent + 1
        rel, rows, stats, blooms = self._write_fileset(df, sid, stats_cols, bloom_cols, bloom_fpp)
        parent_manifest = self._read_manifest(parent) if parent else {}
        prev_files = parent_manifest.get("files", [])
        prev_stats = parent_manifest.get("file_stats", {})
        prev_blooms = parent_manifest.get("file_blooms", {})
        self._commit(
            {
                "sid": sid,
                "parent": parent,
                # an all-rows-filtered append leaves an unreadable fileset:
                # keep it out of the manifest (same rule as _rewrite) so
                # scans never plan a schema-less path
                "files": prev_files + ([rel] if rows else []),
                "added_files": [rel] if rows else [],
                "file_stats": {**prev_stats, **({rel: stats} if stats else {})},
                "file_blooms": {**prev_blooms, **({rel: blooms} if blooms else {})},
                "delete_files": parent_manifest.get("delete_files", []),
                "rows": rows,
            }
        )
        return sid

    def _write_fileset(
        self,
        df: DataFrame,
        sid: int,
        stats_cols: list[str] | None,
        bloom_cols: list[str] | None,
        bloom_fpp: float,
    ) -> tuple[str, int, dict, dict]:
        """Write one data file set and compute its manifest entries
        (row count, [min, max] bounds, bloom blobs)."""
        from pyspark.sql import functions as F

        rel = f"data/{sid}-{uuid.uuid4().hex[:8]}.parquet"
        path = os.path.join(self.table_dir, rel)
        df.write.mode("errorifexists").parquet(path)
        try:
            written = df.sparkSession.read.parquet(path)
        except Exception:
            # an all-rows-filtered write can leave no readable part files
            return rel, 0, {}, {}
        aggs = [F.count("*").alias("__n")]
        for c in stats_cols or []:
            aggs += [F.min(c).alias(f"__lo_{c}"), F.max(c).alias(f"__hi_{c}")]
        row = written.agg(*aggs).first()
        rows = row["__n"]
        stats = {c: [row[f"__lo_{c}"], row[f"__hi_{c}"]] for c in stats_cols or []}
        blooms = {}
        for c in bloom_cols or []:
            from ip_filter_spark.engine import SketchSpec, build_and_merge

            spec = SketchSpec("bloom", {"fpp": bloom_fpp, "n": max(int(rows), 1)})
            sk = build_and_merge(written, [spec], key=c)[spec.key()]
            blooms[c] = sk.to_bytes().hex()
        return rel, int(rows), stats, blooms

    def _commit(self, manifest: dict) -> None:
        tmp = self._manifest_path(manifest["sid"]) + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
        os.rename(tmp, self._manifest_path(manifest["sid"]))

    # ----------------------------------------------------- copy-on-write
    @staticmethod
    def _files(m: dict, col: str) -> list[tuple]:
        """(rel, bounds, bloom blob) per file set of manifest ``m`` for
        ``col``; None where the manifest records none."""
        stats, blooms = m.get("file_stats", {}), m.get("file_blooms", {})
        return [(rel, stats.get(rel, {}).get(col), blooms.get(rel, {}).get(col)) for rel in m["files"]]

    def merge_upsert(
        self,
        spark: SparkSession,
        updates: DataFrame,
        key_col: str,
        stats_cols: list[str] | None = None,
        bloom_cols: list[str] | None = None,
        bloom_fpp: float = 1e-8,
    ) -> tuple[int, int, int]:
        """Copy-on-write MERGE (Delta/Iceberg CoW semantics): rows of
        ``updates`` replace current rows with the same ``key_col`` value;
        unmatched keys insert.  Only the file sets that MAY contain an
        affected key (planned via manifest blooms/bounds, no data file
        read) are rewritten; every other file is carried into the new
        snapshot untouched, so the data rewritten is O(files-touched),
        never O(table).  Older snapshots still read the pre-merge rows.

        ``updates`` must carry the table schema and at most one row per
        key (standard MERGE precondition).  Returns
        (new sid, files_rewritten, files_total_before).

        Planning runs on the executors (``skipping.plan_keys``): the
        manifest's bounds and blooms are broadcast, each task hashes its
        slice of the batch's keys as the build did and tests them, and
        only the hit file names reach the driver, never a key."""
        return self._rewrite(spark, updates, key_col, insert=True, stats_cols=stats_cols, bloom_cols=bloom_cols, bloom_fpp=bloom_fpp)

    def delete_keys(
        self,
        spark: SparkSession,
        key_col: str,
        keys: list | DataFrame,
        stats_cols: list[str] | None = None,
        bloom_cols: list[str] | None = None,
        bloom_fpp: float = 1e-8,
    ) -> tuple[int, int, int]:
        """Copy-on-write row-level DELETE by key batch: rewrites only the
        file sets that may contain a doomed key.  ``keys`` is a Python
        list for point deletes (each cast to the column's type in a tiny
        driver-local frame, so 13 deletes 13.0 from a double column), or
        a DataFrame carrying a ``key_col`` column for table-scale
        batches.  Both plan with the executor-side manifest probe of
        ``merge_upsert`` and delete via anti-join; a DataFrame batch
        never reaches the driver.  Returns
        (new sid, files_rewritten, files_total_before)."""
        from pyspark.sql import functions as F

        from ip_filter_spark.sources.skipping import literal_keys

        template = self.read(spark).limit(0)
        dtype = template.schema[key_col].dataType
        if isinstance(keys, DataFrame):
            updates = keys.select(F.col(key_col).cast(dtype)).distinct()
        else:
            updates = literal_keys(spark, list(keys), dtype, key_col)
        for c in template.columns:
            if c != key_col:
                updates = updates.withColumn(c, F.lit(None).cast(template.schema[c].dataType))
        return self._rewrite(spark, updates.select(template.columns), key_col, insert=False, stats_cols=stats_cols, bloom_cols=bloom_cols, bloom_fpp=bloom_fpp)

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
        mis-compose.  Returns (new sid, n_delete_keys)."""
        parent = self.current_snapshot()
        if parent == 0:
            raise ValueError("merge-on-read delete needs an existing snapshot")
        m = self._read_manifest(parent)
        template = self._scan(spark, m["files"]).limit(0)
        from pyspark.sql import functions as F

        from ip_filter_spark.sources.skipping import literal_keys

        dtype = template.schema[key_col].dataType
        if isinstance(keys, DataFrame):
            # DataFrame batch: the delete file is written straight from the
            # executors — the doomed keys never visit the driver
            keys_df = keys.select(F.col(key_col).cast(dtype)).distinct()
        else:
            keys_df = literal_keys(spark, list(keys), dtype, key_col).distinct()
        rel = f"deletes/{parent + 1}-{uuid.uuid4().hex[:8]}.parquet"
        keys_df.write.mode("errorifexists").parquet(os.path.join(self.table_dir, rel))
        n_keys = (
            spark.read.parquet(os.path.join(self.table_dir, rel)).count()
            if isinstance(keys, DataFrame)
            else len(keys)
        )
        sid = parent + 1
        self._commit(
            {
                "sid": sid,
                "parent": parent,
                "files": m["files"],
                "added_files": [],
                "file_stats": m.get("file_stats", {}),
                "file_blooms": m.get("file_blooms", {}),
                "delete_files": m.get("delete_files", []) + [{"path": rel, "key_col": key_col}],
                "rows": m["rows"],
            }
        )
        return sid, n_keys

    def compact_deletes(
        self,
        spark: SparkSession,
        stats_cols: list[str] | None = None,
        bloom_cols: list[str] | None = None,
        bloom_fpp: float = 1e-8,
    ) -> tuple[int, int, int]:
        """Fold pending MoR delete files into the data (Iceberg's
        rewrite_data_files over deletes): a CoW rewrite of ONLY the file
        sets that may hold a doomed key, committing a manifest with the
        delete-file list cleared — reads stop paying the anti-join, and
        the stranded data + delete files become ``vacuum`` candidates
        after ``expire_snapshots``.  No-op (returns current sid, 0,
        total) when nothing is pending.  Returns (sid,
        files_rewritten, files_total_before)."""
        m = self._read_manifest(self.current_snapshot())
        dels = m.get("delete_files", [])
        if not dels:
            return m["sid"], 0, len(m["files"])
        by_col: dict[str, list[str]] = {}
        for d in dels:
            by_col.setdefault(d["key_col"], []).append(d["path"])
        if len(by_col) != 1:
            raise ValueError("compact_deletes supports one delete key column per run")
        key_col, paths = next(iter(by_col.items()))
        keys_df = spark.read.parquet(
            *[os.path.join(self.table_dir, p) for p in paths]
        ).select(key_col).distinct()
        template = self._scan(spark, m["files"]).limit(0)
        from pyspark.sql import functions as F

        updates = keys_df
        for c in template.columns:
            if c != key_col:
                updates = updates.withColumn(c, F.lit(None).cast(template.schema[c].dataType))
        return self._rewrite(
            spark,
            updates.select(template.columns),
            key_col,
            insert=False,
            stats_cols=stats_cols,
            bloom_cols=bloom_cols,
            bloom_fpp=bloom_fpp,
            _compacting_deletes=True,
        )

    def _apply_deletes(self, spark: SparkSession, df: DataFrame, m: dict) -> DataFrame:
        """Anti-join the manifest's pending delete files into a scan —
        the MoR read path.  Delete sets are O(delta) so they broadcast;
        a no-delete manifest returns the scan unchanged."""
        dels = m.get("delete_files", [])
        if not dels:
            return df
        from pyspark.sql import functions as F

        by_col: dict[str, list[str]] = {}
        for d in dels:
            by_col.setdefault(d["key_col"], []).append(d["path"])
        for key_col, paths in by_col.items():
            keys = spark.read.parquet(
                *[os.path.join(self.table_dir, p) for p in paths]
            ).select(key_col).distinct()
            df = df.join(F.broadcast(keys), key_col, "left_anti")
        return df

    def _rewrite(
        self,
        spark: SparkSession,
        updates: DataFrame,
        key_col: str,
        insert: bool,
        stats_cols: list[str] | None,
        bloom_cols: list[str] | None,
        bloom_fpp: float,
        _compacting_deletes: bool = False,
    ) -> tuple[int, int, int]:
        parent = self.current_snapshot()
        if parent == 0:
            raise ValueError("copy-on-write needs an existing snapshot; use append() first")
        sid = parent + 1
        m = self._read_manifest(parent)
        if m.get("delete_files") and not _compacting_deletes:
            raise ValueError(
                "pending merge-on-read delete files; run compact_deletes() before CoW ops"
            )
        from ip_filter_spark.sources.skipping import plan_keys

        touched = plan_keys(updates, key_col, self._files(m, key_col))
        new_files = [f for f in m["files"] if f not in set(touched)]
        added = []
        file_stats = {k: v for k, v in m.get("file_stats", {}).items() if k not in set(touched)}
        file_blooms = {k: v for k, v in m.get("file_blooms", {}).items() if k not in set(touched)}
        rewritten_rows = 0
        if touched:
            doomed = updates.select(key_col).distinct()
            survivors = self._scan(spark, touched).join(doomed, key_col, "left_anti")
            rel, rows, st, bl = self._write_fileset(survivors, sid, stats_cols, bloom_cols, bloom_fpp)
            rewritten_rows = rows
            if rows:
                new_files.append(rel)
                added.append(rel)
                if st:
                    file_stats[rel] = st
                if bl:
                    file_blooms[rel] = bl
        if insert:
            rel, rows, st, bl = self._write_fileset(updates, sid, stats_cols, bloom_cols, bloom_fpp)
            if rows:
                new_files.append(rel)
                added.append(rel)
                if st:
                    file_stats[rel] = st
                if bl:
                    file_blooms[rel] = bl
            rewritten_rows += rows
        self._commit(
            {
                "sid": sid,
                "parent": parent,
                "files": new_files,
                "added_files": added,
                "file_stats": file_stats,
                "file_blooms": file_blooms,
                # CoW output never carries delete files: a plain rewrite had
                # none pending (it refuses otherwise); compaction folds them in
                "delete_files": [],
                "rows": rewritten_rows,
            }
        )
        return sid, len(touched), len(m["files"])

    # --------------------------------------------------------------- read
    def _scan(
        self, spark: SparkSession, rel_files: list[str], merge_schema: bool = False
    ) -> DataFrame:
        paths = [os.path.join(self.table_dir, rel) for rel in rel_files]
        if not paths:
            raise ValueError("empty file list — nothing to scan")
        reader = spark.read
        if merge_schema:
            reader = reader.option("mergeSchema", "true")
        return reader.parquet(*paths)

    def read(
        self, spark: SparkSession, sid: int | None = None, merge_schema: bool = False
    ) -> DataFrame:
        """Scan snapshot ``sid`` (default: current).  Time travel is just
        planning over an older manifest's file list.  ``merge_schema``
        plans the union schema across file sets (add-column evolution:
        files written before a column existed read as NULL).  Pending
        merge-on-read delete files apply as broadcast anti-joins — each
        manifest carries its own delete list, so time travel to a
        pre-delete snapshot still reads the rows."""
        sid = self.current_snapshot() if sid is None else sid
        m = self._read_manifest(sid)
        return self._apply_deletes(spark, self._scan(spark, m["files"], merge_schema), m)

    def plan_pruned(self, col: str, lo, hi, sid: int | None = None) -> tuple[list[str], int]:
        """Manifest-only planning for ``col BETWEEN lo AND hi``: returns
        (files whose recorded [min, max] intersects [lo, hi], total file
        count in the snapshot).  Files with no recorded bounds for
        ``col`` are conservatively kept (exactly Iceberg's rule for
        missing column stats).  Zero data/footer I/O — this is the
        10^12-file planning path."""
        from ip_filter_spark.sources.skipping import may_hold

        m = self._read_manifest(self.current_snapshot() if sid is None else sid)
        return [rel for rel, b, _ in self._files(m, col) if may_hold(b, None, lo, hi, None)], len(m["files"])

    def read_pruned(
        self, spark: SparkSession, col: str, lo, hi, sid: int | None = None
    ) -> tuple[DataFrame, int, int]:
        """Scan only the files ``plan_pruned`` keeps, with the row-level
        predicate applied on top (file skipping is a superset guarantee,
        never a filter).  Returns (df, files_planned, files_total)."""
        from pyspark.sql import functions as F

        sid = self.current_snapshot() if sid is None else sid
        kept, total = self.plan_pruned(col, lo, hi, sid)
        df = self._scan(spark, kept).where(F.col(col).between(lo, hi))
        return self._apply_deletes(spark, df, self._read_manifest(sid)), len(kept), total

    def plan_point(self, col: str, value, sid: int | None = None) -> tuple[list[str], int]:
        """Manifest-only planning for ``col = value``: keep a file when
        its Bloom sketch says maybe-present (or it has no bloom for
        ``col`` — conservative, like missing min/max stats), further
        intersected with recorded [min, max] bounds when both exist.
        The value is cast to the column's Spark type (read from one
        file set's footer) and hashed by the build's own JVM expression
        (``skipping.probe_keys``), so build and probe agree bit for bit
        on every key type: 13 probes a ``decimal(10,2)`` bloom as
        ``'13.00'`` and 2.5e10 a double bloom as ``'2.5E10'``.  No data
        file is read: the footer read and the hash are two small Spark
        jobs, and the blobs are probed driver-side, O(files) at 10^12
        files."""
        from pyspark.sql import SparkSession

        from ip_filter_spark.sources.skipping import bloom_of, literal_probe, may_hold

        m = self._read_manifest(self.current_snapshot() if sid is None else sid)
        files = self._files(m, col)
        typed = next((rel for rel, b, blob in files if b is not None or blob is not None), None)
        if typed is None:  # nothing recorded for col: every file set stays
            return [rel for rel, _, _ in files], len(files)
        spark = SparkSession.active()
        kmin, kmax, h64 = literal_probe(spark, [value], self._scan(spark, [typed]).schema[col].dataType)
        return [rel for rel, b, blob in files if may_hold(b, bloom_of(blob), kmin, kmax, h64)], len(files)

    def read_point(
        self, spark: SparkSession, col: str, value, sid: int | None = None
    ) -> tuple[DataFrame, int, int]:
        """Scan only the files ``plan_point`` keeps, with the row-level
        equality predicate applied on top (bloom skipping is a superset
        guarantee — false positives scan and filter to nothing, never a
        wrong row).  Returns (df, files_planned, files_total); when every
        file is skipped the DataFrame is a zero-row plan over the
        snapshot's schema."""
        from pyspark.sql import functions as F

        sid = self.current_snapshot() if sid is None else sid
        kept, total = self.plan_point(col, value, sid)
        m = self._read_manifest(sid)
        if not kept:
            return self._scan(spark, m["files"][:1]).where(F.lit(False)), 0, total
        df = self._scan(spark, kept).where(F.col(col) == F.lit(value))
        return self._apply_deletes(spark, df, m), len(kept), total

    def incremental(self, spark: SparkSession, from_sid: int, to_sid: int) -> DataFrame:
        """Scan only files appended in snapshots (from_sid, to_sid] —
        the O(delta) maintenance read.  ``from_sid=0`` means 'since the
        empty table' (equivalent to ``read(to_sid)``)."""
        if not 0 <= from_sid < to_sid:
            raise ValueError(f"need 0 <= from_sid < to_sid, got ({from_sid}, {to_sid}]")
        added: list[str] = []
        sid = to_sid
        while sid > from_sid:
            m = self._read_manifest(sid)
            added = m["added_files"] + added
            sid = m["parent"]
        return self._scan(spark, added)

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
            live.update(d["path"] for d in m.get("delete_files", []))
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
