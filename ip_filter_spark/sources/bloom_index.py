"""File-level Bloom index — sketch-guided scan pruning (data skipping).

The reference engine's central move is "a Bloom filter tells you where
NOT to look" (the guided LPM probe descends only where the sketch says a
longer match can exist — /root/reference/prototype/ipfilter.py:131-158).
Applied to storage instead of prefix trees: one Bloom per DATA FILE over
a high-cardinality key lets a point / small-batch lookup skip every file
whose sketch proves the key absent — the equality-predicate complement
of Parquet footer min/max stats, which only help when the file is sorted
or range-clustered by the key. The index lives NEXT TO the data (an
underscore-prefixed subdirectory, invisible to normal parquet listings),
so any reader that knows the convention can prune and any reader that
doesn't still sees plain parquet.

Scale shape at 100 TB / ~100k files:

- the index is ~100k rows of (file, blob) with blobs sized by
  ``fpp``/``expected_keys`` — megabytes, not terabytes;
- the PROBE is a Spark job over the index table (a ``mapInArrow``
  membership test per blob, through ``skipping.may_hold``, the skip test
  the snapshot planners share), so the index itself is scanned in
  parallel and never concentrated on the driver;
- the probe keys are hashed the way the build hashed the column: cast
  to its Spark type and digested by the engine's JVM expression
  (``skipping.literal_probe``, one small local job), so double, boolean
  and decimal keys find their files;
- only the CANDIDATE FILE NAMES are collected — the minimum that must
  reach the driver, because they parameterize the subsequent read (the
  same driver-side role Parquet's own footer pruning plays);
- the data scan then reads only candidate files, with the key equality
  predicate still pushed down inside them.

Build cost is one extra scan of the written data (grouped by
``_metadata.file_path``); rebuild after compaction. False positives cost
one wasted file scan each — bounded by ``fpp * files``, never wrong
results, because the exact predicate is re-applied on read.
"""

from __future__ import annotations

from dataclasses import dataclass

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ip_filter_spark.engine import _fold_blobs, _hashable, sha256_digest
from ip_filter_spark.sketches import BloomFilter
from ip_filter_spark.sources.skipping import bloom_of, literal_probe, may_hold

_INDEX_SUBDIR = "_bloom_index"  # leading underscore: hidden from parquet listings


def _index_path(data_path: str, key_col: str) -> str:
    return f"{data_path.rstrip('/')}/{_INDEX_SUBDIR}/key={key_col}"


def write_bloom_index(
    spark: SparkSession,
    data_path: str,
    key_col: str,
    *,
    fpp: float = 1e-4,
    expected_keys_per_file: int = 100_000,
) -> str:
    """Scan the parquet at ``data_path`` once and write a (file, blob)
    Bloom sidecar under ``<data_path>/_bloom_index/key=<col>``.

    All blobs share one (m, k) geometry (sized for
    ``expected_keys_per_file`` at ``fpp``) so a future compaction can OR
    file blobs together instead of rebuilding. The grouped pandas UDF
    receives each file's key digests as one Arrow batch stream — the
    same partial-build kernel shape as the engine's sketch builds.
    """
    from ip_filter_spark.functions.udaf import sketch_agg

    df = spark.read.parquet(data_path)
    idx = (
        df.select(
            F.col("_metadata.file_path").alias("file"),
            sha256_digest(_hashable(df, key_col)).alias("digest"),
        )
        .groupBy("file")
        .agg(sketch_agg("bloom", fpp=fpp, n=expected_keys_per_file)(F.col("digest")).alias("blob"))
    )
    path = _index_path(data_path, key_col)
    idx.write.mode("overwrite").parquet(path)
    return path


@dataclass
class PruneStats:
    files_total: int
    files_scanned: int

    @property
    def pruned(self) -> bool:
        return self.files_scanned < self.files_total


def bloom_pruned_read(
    spark: SparkSession, data_path: str, key_col: str, keys: list
) -> tuple[DataFrame, PruneStats]:
    """Read only the files that MAY contain one of ``keys`` (per the
    sidecar Bloom index), with the exact ``key IN (...)`` predicate
    re-applied — false positives cost a scan, never a wrong row.

    The index probe runs AS A SPARK JOB (a ``mapInArrow`` membership
    test over the index table); the driver receives candidate file
    names only. ``keys`` is a driver-side list by construction (a
    point/batch lookup — for key-SETS that are themselves data-scaled,
    use ``bloom_semijoin``, which broadcasts a single Bloom the other
    way around)."""
    schema = spark.read.parquet(data_path).schema
    _, _, h64 = literal_probe(spark, list(keys), schema[key_col].dataType)

    def probe(batches):
        for b in batches:
            hit = [may_hold(None, bloom_of(blob), None, None, h64) for blob in b.column(1).to_pylist()]
            yield pa.RecordBatch.from_arrays([b.column(0), pa.array(hit, pa.bool_())], names=["file", "hit"])

    idx = spark.read.parquet(_index_path(data_path, key_col)).select("file", "blob")
    counted = idx.mapInArrow(probe, "file string, hit boolean").agg(
        F.count("*").alias("total"),
        F.collect_list(F.when(F.col("hit"), F.col("file"))).alias("candidates"),
    )
    row = counted.collect()[0]
    stats = PruneStats(files_total=int(row["total"]), files_scanned=len(row["candidates"]))
    if not row["candidates"]:
        out = spark.createDataFrame([], schema)
    else:
        out = spark.read.schema(schema).parquet(*row["candidates"])
    return out.where(F.col(key_col).isin(list(keys))), stats


__all__ = [
    "write_bloom_index",
    "bloom_pruned_read",
    "merge_index_blobs",
    "PruneStats",
    "BloomFilter",
]


def merge_index_blobs(blobs: list[bytes]) -> bytes:
    """OR together same-geometry file blobs — the compaction path: when
    small files are coalesced, the new file's index entry is the OR of
    its inputs' blobs (Bloom union is exact for membership), no data
    rescan. All blobs written by one ``write_bloom_index`` share (m, k),
    which is what makes this legal; geometry mismatch raises."""
    return _fold_blobs(blobs).to_bytes()
