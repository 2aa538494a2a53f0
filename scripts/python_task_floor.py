#!/usr/bin/env python
"""The fixed cost of a Python task, measured in one Spark session.

Every ``mapInPandas``/``mapInArrow`` task of the package pays a cost that
does not depend on its rows. This script reports two figures of it, so a
change to the Python boundary can quote the floor as a layer:

  invalidate  the in-worker CPU of one ``importlib.invalidate_caches()``
              call once the package is imported (Spark's worker makes
              this call at the start of every task, in
              ``worker_util.setup_spark_files``); the median over the
              tasks of every round after the first, with the first
              round's median (a fresh worker's) beside it
  identity    the wall of an identity ``mapInArrow`` over
              ``range(4, numPartitions=4)`` counted, next to a plain count
              of the same range: the difference is what one Python stage
              adds to an action

Run it from a checkout's root; it uses that checkout's package, so
running it from two checkouts compares them:

    python scripts/python_task_floor.py --reps 15
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from ip_filter_spark.config import get_spark  # noqa: E402

PARTS = 4


def _invalidate_cost(batches):
    """One row per task: the CPU of one invalidate_caches() call and the
    number of zip importers the worker holds."""
    import importlib
    import os
    import zipimport

    import pyarrow as pa

    import ip_filter_spark  # noqa: F401  (what a package function's worker imports)

    for _ in batches:
        pass
    zips = sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
    t0 = time.process_time()
    importlib.invalidate_caches()
    cpu = time.process_time() - t0
    yield pa.RecordBatch.from_pydict({"cpu_s": [cpu], "zips": [zips], "pid": [os.getpid()]})


def _identity(batches):
    import ip_filter_spark  # noqa: F401

    yield from batches


def _wall(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--reps", type=int, default=15, help="rounds of each measurement")
    args = ap.parse_args()

    spark = get_spark(app_name="python_task_floor", master=f"local[{PARTS}]", shuffle_partitions=PARTS)
    try:
        df = spark.range(PARTS, numPartitions=PARTS)
        rounds = [
            df.mapInArrow(_invalidate_cost, "cpu_s double, zips long, pid long").collect()
            for _ in range(args.reps)
        ]
        walls = {"identity_s": [], "count_s": []}
        for r in range(args.reps):
            runs = [
                ("identity_s", lambda: df.mapInArrow(_identity, df.schema).count()),
                ("count_s", lambda: df.count()),
            ]
            for name, fn in runs[:: 1 if r % 2 == 0 else -1]:
                walls[name].append(_wall(fn))
    finally:
        spark.stop()

    first = [row.cpu_s for row in rounds[0]]
    warm = [row.cpu_s for rows in rounds[1:] for row in rows]
    out = {
        "invalidate_first_ms": round(1e3 * statistics.median(first), 3),
        "invalidate_ms": round(1e3 * statistics.median(warm), 3) if warm else None,
        "invalidate_max_ms": round(1e3 * max(warm), 3) if warm else None,
        "zip_importers": max(row.zips for rows in rounds for row in rows),
        "workers": len({row.pid for rows in rounds for row in rows}),
        **{k: round(statistics.median(v), 4) for k, v in walls.items()},
    }
    out["python_stage_s"] = round(out["identity_s"] - out["count_s"], 4)
    print(
        f"invalidate_caches CPU per task: {out['invalidate_ms']} ms "
        f"(first round {out['invalidate_first_ms']} ms, max {out['invalidate_max_ms']} ms, "
        f"{out['zip_importers']} zip importers, {out['workers']} workers)"
    )
    print(
        f"identity mapInArrow {out['identity_s']} s vs plain count {out['count_s']} s "
        f"(medians of {args.reps}): the Python stage adds {out['python_stage_s']} s"
    )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
