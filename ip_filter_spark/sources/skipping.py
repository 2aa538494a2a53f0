"""File skipping by Bloom blobs and [min, max] bounds: one key hash, one skip test.

Both storage indexes of the package ask the same question, "may file set
f hold one of the keys K?": the manifest blooms and bounds of
``snapshots.SnapshotTable`` (``plan_pruned``, ``plan_point`` and the
copy-on-write planner) and the sidecar index of
``bloom_index.bloom_pruned_read``. They answer it here:

- ``probe_keys`` is the only way a probe key becomes a hash. The key is
  cast to the column's own Spark type and digested by the build's JVM
  expression (``engine.sha256_digest(_hashable(...))``), so 13 on a
  ``decimal(10,2)`` column hashes as the build's ``'13.00'``, and 2.5e10
  on a double column as ``'2.5E10'``. Literal keys go through a tiny
  driver-local frame (``literal_probe``, one small local job); key
  DataFrames are hashed on the executors (``plan_keys``).
- ``may_hold`` is the only skip test: a file set is skipped when the keys'
  [kmin, kmax] misses its bounds or when none of their hashes hits its
  Bloom. Missing bounds, a missing bloom or incomparable values keep it.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from ip_filter_spark.arrow import bytes_matrix
from ip_filter_spark.engine import _hashable, sha256_digest
from ip_filter_spark.sketches.hashing import DIGEST_W, digests_to_matrix, fnv1a64
from ip_filter_spark.sketches.registry import from_bytes


def may_hold(bounds, bloom, kmin, kmax, h64) -> bool:
    """May a file set with recorded ``bounds`` ([lo, hi] or None) and
    ``bloom`` (a Bloom sketch or None) hold a key in [kmin, kmax] whose
    hashes are ``h64`` (None: not hashed)? False only when the bounds or
    the bloom prove it cannot."""
    if bounds is not None and None not in (kmin, bounds[0], bounds[1]):
        try:
            if kmax < bounds[0] or kmin > bounds[1]:
                return False
        except TypeError:  # value/bounds not comparable after the JSON round-trip
            pass
    return bloom is None or h64 is None or bool(bloom.contains_hashes(h64).any())


def bloom_of(blob):
    """A manifest (hex str) or index (bytes) blob → its Bloom sketch."""
    if blob is None:
        return None
    return from_bytes(bytes.fromhex(blob) if isinstance(blob, str) else bytes(blob))


def probe_keys(keys: DataFrame, col: str, dtype) -> DataFrame:
    """(k, d): the non-null values of ``keys[col]`` cast to ``dtype``,
    each with its key digest as the build computes it. Duplicates stay
    (a repeated key tests the same bits); the CoW callers pass batches
    that are already one row per key."""
    k = keys.select(F.col(col).cast(dtype).alias("k")).where(F.col("k").isNotNull())
    return k.select("k", sha256_digest(_hashable(k, "k")).alias("d"))


def literal_keys(spark: SparkSession, keys: list, dtype, name: str = "k") -> DataFrame:
    """One-partition frame of the Python ``keys``, each cast by Spark to
    ``dtype`` (the type a comparison with the column coerces it to)."""
    if not keys:
        return spark.createDataFrame([], StructType([StructField(name, dtype)]))
    lits = F.array(*[F.lit(k).cast(dtype) for k in keys])
    return spark.range(0, 1, 1, 1).select(F.explode(lits).alias(name))


def literal_probe(spark: SparkSession, keys: list, dtype):
    """(kmin, kmax, h64) of literal keys: their range once cast to
    ``dtype`` and their uint64 Bloom hashes. Null keys match nothing and
    drop out, so all-null keys give (None, None, empty)."""
    rows = probe_keys(literal_keys(spark, keys, dtype), "k", dtype).collect()
    vals = [r.k for r in rows]
    h64 = fnv1a64(digests_to_matrix([bytes(r.d) for r in rows], width=DIGEST_W))
    return (min(vals), max(vals), h64) if vals else (None, None, h64)


def plan_keys(keys: DataFrame, col: str, files: list[tuple]) -> list[str]:
    """The rel names of ``files`` ((rel, bounds, blob) triples) that may
    hold a value of ``keys[col]``, in ``files`` order. The file metadata
    is broadcast and each executor tests its slice of the keys, with that
    slice's own [min, max]; only the hit names reach the driver."""
    if not files:
        return []
    bc = keys.sparkSession.sparkContext.broadcast(files)

    def probe(batches):
        filters = [(rel, b, bloom_of(blob)) for rel, b, blob in bc.value]
        hit: set[str] = set()
        for batch in batches:
            if not batch.num_rows:
                continue
            lo_hi = pc.min_max(batch.column(0)).as_py()
            h64 = fnv1a64(bytes_matrix(batch.column(1), DIGEST_W, "d"))
            hit.update(
                rel
                for rel, b, bloom in filters
                if rel not in hit and may_hold(b, bloom, lo_hi["min"], lo_hi["max"], h64)
            )
        yield pa.RecordBatch.from_arrays([pa.array(sorted(hit), pa.string())], names=["rel"])

    hashed = probe_keys(keys, col, keys.schema[col].dataType)
    rels = {r.rel for r in hashed.mapInArrow(probe, "rel string").distinct().collect()}
    return [rel for rel, _, _ in files if rel in rels]

