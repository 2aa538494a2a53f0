"""SparkSession construction with scale-aware defaults.

All knobs here are chosen for the 100 TB design point and then scaled
down for local testing:

- AQE on (runtime re-planning, skew-join splitting, partition coalescing),
- Arrow on for every pandas UDF boundary, with a bounded batch size so the
  per-batch numpy working set (batch x L masked-key matrices in the LPM
  kernel) stays in cache,
- shuffle partitions sized to the local core count; on a real cluster this
  is set to ~2-3x total executor cores and AQE coalesces from there.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

# Arrow batch size: rows per batch crossing into every pandas/Arrow UDF.
# It is also the LPM probe's rows per kernel call (lpm._KERNEL_CHUNK),
# so a batch of this size runs in one call: an IPv4 batch holds one
# int64 key per row (80 KB at 10k rows), and a path/IPv6 batch a
# (rows, D) hash matrix (1.3 MB at 16 depths), both cache-friendly and
# far below executor memory at any scale; every call also carries a few
# ms of fixed numpy overhead, so fewer, whole-batch calls are cheaper.
ARROW_BATCH = 10_000


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4)))


def get_spark(
    app_name: str = "ip_filter_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = default_parallelism()
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(cpus, 4)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH))
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _ship_package(spark)
    return spark


def _package_zip(pkg_dir: str) -> str:
    """The zip of the package at ``pkg_dir``, built once per distinct
    content. Its name carries a hash of every module's archive name and
    bytes, so sessions from checkouts that differ in any module never
    share a zip: ``addPyFile`` puts it ahead of the executors'
    PYTHONPATH, and a zip from another checkout would shadow this one."""
    import hashlib
    import zipfile

    files = []  # (archive name, bytes) of every module, in a fixed order
    for root, _, names in sorted(os.walk(pkg_dir)):
        for f in sorted(names):
            if f.endswith(".py"):
                full = os.path.join(root, f)
                with open(full, "rb") as fh:
                    files.append((os.path.relpath(full, os.path.dirname(pkg_dir)), fh.read()))
    digest = hashlib.sha256()
    for rel, body in files:
        digest.update(f"{rel}\0{len(body)}\0".encode() + body)
    zip_path = os.path.join(tempfile.gettempdir(), f"ip_filter_spark_pkg_{digest.hexdigest()[:16]}.zip")
    if not os.path.exists(zip_path):
        # per-process tmp name: concurrent sessions (multi-executor bench
        # harnesses) may build the same zip at once, and a shared ".tmp"
        # lets one process's os.replace steal another's staging file
        tmp = f"{zip_path}.{os.getpid()}.tmp"
        with zipfile.ZipFile(tmp, "w") as zf:
            for rel, body in files:  # the bytes hashed, not a later re-read
                zf.writestr(rel, body)
        os.replace(tmp, zip_path)
    return zip_path


def _ship_package(spark: SparkSession) -> None:
    """Make the library importable on executors regardless of cwd: zip the
    package and addPyFile it — the programmatic equivalent of
    ``spark-submit --py-files ip_filter_spark.zip`` (north-rule packaging)."""
    spark.sparkContext.addPyFile(_package_zip(os.path.dirname(os.path.abspath(__file__))))
