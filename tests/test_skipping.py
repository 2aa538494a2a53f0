"""File skipping across key types: the snapshot planners and the sidecar
Bloom index hash a probe key the way the build hashed the column, so a
point read keeps exactly the file sets that hold the key on long,
string, double, boolean and decimal columns."""

import hashlib
import json
import os
from decimal import Decimal

import numpy as np
import pytest
from pyspark.sql import functions as F

from ip_filter_spark.sketches import BloomFilter
from ip_filter_spark.sources.bloom_index import bloom_pruned_read, write_bloom_index
from ip_filter_spark.sources.skipping import may_hold
from ip_filter_spark.sources.snapshots import SnapshotTable

# per Spark key type: the key as a function of id (file set i holds the
# ids with id % 2 == i, so both file sets' bounds span the domain), and
# probes, each held by one file set or none. Several are Python literals
# whose str() differs from Spark's CAST(... AS STRING): 5e9 vs '5.0E9',
# True vs 'true', an int on a double or decimal column.
KEY_TYPES = {
    "long": ("id", [5, 10**6]),
    "string": ("concat('s', id)", ["s5", "nope"]),
    "double": ("id * 1e9", [5e9, 4_000_000_000, 1e15]),
    "boolean": ("id % 2 = 1", [True, False]),
    "decimal(10,2)": ("id / 4", [Decimal("2.5"), 1, Decimal("2.51")]),
}


def _rows(spark, key_type):
    return spark.range(0, 30).select(F.expr(KEY_TYPES[key_type][0]).cast(key_type).alias("k"), "id")


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("skipping")
    out = {}
    for j, key_type in enumerate(KEY_TYPES):
        t = SnapshotTable(str(root / f"t{j}"))
        for i in range(2):
            t.append(_rows(spark, key_type).where(F.col("id") % 2 == i), bloom_cols=["k"])
        out[key_type] = t
    return out


@pytest.mark.parametrize("key_type", list(KEY_TYPES))
def test_point_read_keeps_the_true_file_set(spark, tables, key_type):
    t = tables[key_type]
    files = t._read_manifest(t.current_snapshot())["files"]
    for value in KEY_TYPES[key_type][1]:
        holds = [rel for rel in files if t._scan(spark, [rel]).where(F.col("k") == F.lit(value)).count()]
        kept, total = t.plan_point("k", value)
        assert (kept, total) == (holds, 2), (key_type, value)
        df, planned, _ = t.read_point(spark, "k", value)
        want = sorted(r.id for r in t.read(spark).where(F.col("k") == F.lit(value)).collect())
        assert planned == len(holds)
        assert sorted(r.id for r in df.collect()) == want, (key_type, value)


@pytest.mark.parametrize("key_type", list(KEY_TYPES))
def test_bloom_index_keeps_the_true_files(spark, key_type, tmp_path):
    data = str(tmp_path / "data")
    for i in range(2):
        _rows(spark, key_type).where(F.col("id") % 2 == i).coalesce(1).write.mode("append").parquet(data)
    write_bloom_index(spark, data, "k", fpp=1e-6, expected_keys_per_file=100)
    src = spark.read.parquet(data)
    for value in KEY_TYPES[key_type][1]:
        hits, stats = bloom_pruned_read(spark, data, "k", [value])
        want = src.where(F.col("k") == F.lit(value))
        holds = want.select(F.input_file_name()).distinct().count()
        assert (stats.files_scanned, stats.files_total) == (holds, 2), (key_type, value)
        assert sorted(r.id for r in hits.collect()) == sorted(r.id for r in want.collect())


def test_delete_double_key_list_prunes_by_bloom(spark, tmp_path):
    """A list of double keys plans through the bloom: only the file set
    holding 4e9 and 6e9 is rewritten, though both file sets' bounds span
    both keys."""
    t = SnapshotTable(str(tmp_path / "dbl"))
    for i in range(2):
        t.append(_rows(spark, "double").where(F.col("id") % 2 == i), stats_cols=["k"], bloom_cols=["k"])
    _, rewritten, total = t.delete_keys(spark, "k", [4e9, 6_000_000_000])
    assert (rewritten, total) == (1, 2)
    assert sorted(r.id for r in t.read(spark).collect()) == [i for i in range(30) if i not in (4, 6)]


def test_may_hold_bounds_and_bloom():
    assert may_hold([5, 9], None, 1, 4, None) is False
    assert may_hold([5, 9], None, 9, 12, None) is True
    assert may_hold([5, 9], None, "a", "b", None) is True  # incomparable: keep
    assert may_hold([None, 9], None, 1, 4, None) is True
    bloom = BloomFilter(fpp=1e-6, n=100).insert_hashes(np.array([7], dtype=np.uint64))
    assert may_hold(None, bloom, None, None, np.array([8, 7], dtype=np.uint64)) is True
    assert may_hold(None, bloom, None, None, np.array([8], dtype=np.uint64)) is False
    assert may_hold(None, bloom, None, None, None) is True  # not hashed: keep
    assert may_hold([0, 9], bloom, 3, 3, np.array([8], dtype=np.uint64)) is False


# sha256 of the concatenated bloom blobs of a 3-append snapshot table
# (manifest) and of a 4-file sidecar index (index) over sf0.001 events:
# the bytes the build wrote before probe keys moved to the JVM hash.
_GOLDEN = {
    ("manifest", "long"): "5761b89014cccbed6e125bc2e3414b0aa3a65c9e13527b3ce329ca34cb031652",
    ("index", "long"): "6435d171fdb707ddc0e7435b882ce58ffcd217842b05b123fe6780f9b80d8fbe",
    ("manifest", "string"): "e2feece0991a7330a3615ea4c8fa1d12b0d8661db000f505959a2ac98e3099ef",
    ("index", "string"): "1c04ccbfffe5f271759a2fc86609f8ff1ac1a4da4287ab61512be08f7cd714d2",
    ("manifest", "double"): "2425416161d5432a993e059049a4fbfab09b6b9f24302afa67be84b1a3dd5bd8",
    ("index", "double"): "2fb0500f12d44d90f17fbb84c407737c437f4ecef270507f8e6e477e4b129312",
}


def test_bloom_blobs_are_unchanged(spark, sf_dir, tmp_path):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    keys = {
        "long": F.col("user_id"),
        "string": F.concat(F.lit("u"), F.col("user_id").cast("string")),
        "double": F.col("user_id").cast("double") * 1e9 + F.lit(0.25),
    }
    for name, expr in keys.items():
        src = ev.select(expr.alias("k"), "event_id")
        t = SnapshotTable(str(tmp_path / name))
        for i in range(3):
            t.append(src.where(F.col("event_id") % 3 == i), bloom_cols=["k"])
        with open(os.path.join(t.table_dir, "manifest-3.json")) as fh:
            m = json.load(fh)
        blob = b"".join(bytes.fromhex(m["file_blooms"][rel]["k"]) for rel in m["files"])
        assert hashlib.sha256(blob).hexdigest() == _GOLDEN["manifest", name]
        data = str(tmp_path / f"{name}_idx")
        src.repartitionByRange(4, "event_id").write.parquet(data)
        idx = write_bloom_index(spark, data, "k", fpp=1e-4, expected_keys_per_file=10_000)
        blobs = sorted((os.path.basename(r.file), bytes(r.blob)) for r in spark.read.parquet(idx).collect())
        assert hashlib.sha256(b"".join(b for _, b in blobs)).hexdigest() == _GOLDEN["index", name]
