"""The sketch algebra as real pandas UDAFs — one-line SQL aggregates.

Two surfaces expose the same mergeable kernels
(``/root/reference/prototype/bloomfilter.py`` etc., re-expressed in
``ip_filter_spark.sketches``):

- the ENGINE path (``engine.build_partials`` → ``tree_merge``): one
  mapInPandas partial per partition, emitted by the engine's single
  partial emitter (``engine._emit_partials``), then an applyInPandas
  hierarchical merge. This is the scale path — rows fold into one
  partial per partition before the merge shuffle, so merge traffic is
  O(partitions · blob) no matter how many rows. Every blob merge there
  and in ``sketch_merge_agg`` below is the engine's one fold
  (``engine._fold_blobs``), so both surfaces merge identically.
- THIS module: ``pandas_udf`` GROUPED_AGG functions registerable for
  SQL — ``SELECT lang, hll_estimate(hll_agg(digest)) FROM t GROUP BY
  lang``. Spark feeds each group's column to the UDF as Arrow batches
  (vectorized, no per-row Python), but grouped aggregates do NOT
  partial-aggregate map-side: every row of a group crosses the shuffle.
  That makes this the convenience API for interactive SQL and moderate
  groups; the engine path owns the 100 TB build. The ``*_merge``
  aggregates close the gap in SQL itself: aggregate per (key, salt)
  first, then merge blobs per key — the skew-safe two-level shape as
  two GROUP BYs (see ``queries.sql_udaf_users_by_type``).

All UDFs take the DIGEST_W-byte truncated sha256 digest column
(``engine.sha256_digest(col)`` — the per-row invariant), not raw
values, so the hash pipeline is identical to the engine path and blobs
from either surface merge interchangeably.
"""

from __future__ import annotations

from typing import Any

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.functions import pandas_udf

from ip_filter_spark.engine import _fold_blobs
from ip_filter_spark.sketches import from_bytes, make_sketch
from ip_filter_spark.sketches.hashing import digests_to_matrix, fnv1a64


def sketch_agg(sketch: str, **params: Any):
    """GROUPED_AGG UDAF: digest column → serialized sketch blob.

    Usable in ``DataFrame.agg`` and (registered) in SQL GROUP BY / OVER.
    """

    @pandas_udf("binary")
    def agg(digests: pd.Series) -> bytes:
        sk = make_sketch(sketch, **params)
        if len(digests):
            sk.update_hashes(fnv1a64(digests_to_matrix(digests)))
        return sk.to_bytes()

    return agg


def sketch_value_agg(sketch: str, **params: Any):
    """GROUPED_AGG UDAF: double VALUE column → serialized sketch blob —
    the value-path twin of ``sketch_agg`` for quantile sketches
    (KLL / t-digest). Nulls are dropped (SQL aggregate semantics)."""

    @pandas_udf("binary")
    def agg(values: pd.Series) -> bytes:
        sk = make_sketch(sketch, **params)
        vals = values.dropna()
        if len(vals):
            sk.update_values(vals.to_numpy(dtype="float64"))
        return sk.to_bytes()

    return agg


def sketch_merge_agg():
    """GROUPED_AGG UDAF: blob column → merged blob (associative sketch
    merge). The second level of a two-level SQL aggregation, and the
    re-aggregation step for stored partials/rollups. Null blobs (outer
    joins, empty upstream groups) are skipped; an all-null group merges
    to NULL rather than raising inside the executor."""

    @pandas_udf("binary")
    def merge(blobs: pd.Series) -> bytes | None:
        blobs = blobs.dropna()
        if not len(blobs):
            return None
        return _fold_blobs(blobs).to_bytes()

    return merge


def sketch_estimate():
    """Scalar vectorized UDF: blob → point estimate (HLL/KMV cardinality,
    CBF/CMS total, …: whatever the sketch's ``estimate`` returns)."""

    @pandas_udf("double")
    def estimate(payload: pd.Series) -> pd.Series:
        return payload.map(lambda b: float(from_bytes(bytes(b)).estimate()))

    return estimate


def sketch_quantile(q: float):
    """Scalar vectorized UDF: quantile-sketch blob → value at rank ``q``
    (KLL / t-digest)."""
    import numpy as np

    @pandas_udf("double")
    def quantile(payload: pd.Series) -> pd.Series:
        return payload.map(
            lambda b: float(np.asarray(from_bytes(bytes(b)).quantile(q)).item())
        )

    return quantile


def register_sketch_udafs(spark: SparkSession, prefix: str = "hll", sketch: str = "hll", **params: Any):
    """Register ``{prefix}_agg`` / ``{prefix}_merge`` / ``{prefix}_estimate``
    for SQL. Returns the three function objects for DataFrame-API use."""
    agg, merge, est = sketch_agg(sketch, **params), sketch_merge_agg(), sketch_estimate()
    spark.udf.register(f"{prefix}_agg", agg)
    spark.udf.register(f"{prefix}_merge", merge)
    spark.udf.register(f"{prefix}_estimate", est)
    return agg, merge, est


def register_value_sketch_udafs(
    spark: SparkSession, prefix: str = "td", sketch: str = "tdigest", q: float = 0.5, **params: Any
):
    """Register the VALUE-sketch SQL surface: ``{prefix}_agg`` (double →
    blob), ``{prefix}_merge`` (blob → blob) and ``{prefix}_quantile``
    (blob → value at rank ``q``) — the quantile algebra for SQL users,
    merge-compatible with the engine path's blobs."""
    agg, merge, qf = sketch_value_agg(sketch, **params), sketch_merge_agg(), sketch_quantile(q)
    spark.udf.register(f"{prefix}_agg", agg)
    spark.udf.register(f"{prefix}_merge", merge)
    spark.udf.register(f"{prefix}_quantile", qf)
    return agg, merge, qf
