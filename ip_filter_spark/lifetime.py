"""The one lifetime rule for Spark intermediates.

An operator leaves behind nothing but what it returns. These two tools
are the only places in the package that persist, unpersist or
checkpoint anything:

- ``pinned()``: an intermediate whose consumers all run inside the
  operator (a loop invariant, a table read by several actions) is
  pinned. ``pin(df)`` persists it lazily at the default level (memory,
  spilling to disk); the scope unpersists it on exit, on return or on
  raise. A frame the caller had already persisted is left alone.
- ``cut(df)``: anything the returned DataFrame still reads (a lazily
  returned join's build side, a loop state, the output itself) is cut
  instead: computed once, eagerly, into lineage-free blocks that belong
  to the result. Spark's ContextCleaner frees them once the caller drops
  the result. Cuts also keep an iterative plan's depth O(1).

Fault tolerance: a cut is ``localCheckpoint``, held by the executors
that computed it; an executor lost mid-job takes its blocks with it and
there is no lineage left to replay. ``checkpoint_dir`` gives the
reliable form, written to that directory, at the cost of one write per
cut.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel


@contextmanager
def pinned():
    """Yield ``pin``; what it pinned is unpersisted when the scope exits."""
    held: list[DataFrame] = []

    def pin(df: DataFrame) -> DataFrame:
        if df.storageLevel == StorageLevel.NONE:
            held.append(df.persist())
        return df

    try:
        yield pin
    finally:
        for df in reversed(held):
            df.unpersist()


def cut(df: DataFrame, checkpoint_dir: str | None = None) -> DataFrame:
    """``df`` computed now, lineage cut: a local checkpoint, or a reliable
    one into ``checkpoint_dir`` when given."""
    if not checkpoint_dir:
        return df.localCheckpoint(eager=True)
    df.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)
    return df.checkpoint(eager=True)
