"""Matrix sketching over embedding columns: Frequent Directions partials
that ride the engine's standard sketch-row / tree_merge machinery.

The FD sketch approximates A^T A (the Gram / covariance matrix of the
full embedding table) in O(ell * dim) per partition — at 10^12 rows the
only cross-executor traffic is P blobs of 2*ell*dim float64 (~16 KB at
ell=16, dim=64), exactly like the scalar sketches."""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ip_filter_spark.engine import _emit_partials, _fold_blobs, _params_hash, tree_merge
from ip_filter_spark.sketches.frequent_directions import FrequentDirections


def fd_partials(
    df: DataFrame,
    vec_col: str,
    ell: int = 16,
    dim: int = 64,
    num_partitions: int | None = None,
) -> DataFrame:
    """Per-partition Frequent Directions summaries of an array<float>
    column as standard sketch rows (mergeable with engine.tree_merge)."""
    src = df.select(F.col(vec_col).cast("array<double>").alias("v"))
    if num_partitions:
        src = src.repartition(num_partitions)
    ell_i, dim_i = int(ell), int(dim)

    def build(batches):
        sk = FrequentDirections(ell=ell_i, dim=dim_i)
        rows = 0
        for b in batches:
            rows += len(b)
            if len(b):
                sk.update_vectors(np.array(b["v"].tolist(), dtype=np.float64))
        return [sk], rows

    return _emit_partials(src, build, [_params_hash(FrequentDirections(ell=ell_i, dim=dim_i)._params())])


def fd_sketch(df: DataFrame, vec_col: str, ell: int = 16, dim: int = 64) -> FrequentDirections:
    """Distributed FD build: partials per partition, associative
    tree-merge, one ~16 KB blob to the driver."""
    return _fold_blobs(r.payload for r in tree_merge(fd_partials(df, vec_col, ell=ell, dim=dim)).collect())
