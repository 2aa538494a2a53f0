"""File skipping across key types: the snapshot planners and the sidecar
Bloom index hash a probe key the way the build hashed the column, so a
point read keeps exactly the file sets that hold the key on long,
string, double, boolean and decimal columns. The snapshot manifest is
the table's metadata authority: typed bounds, the schema every reader
scans with, and the index spec copy-on-write rewrites keep."""

import hashlib
import json
import os
import uuid
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


def _jobs(spark, fn):
    """Spark jobs that ``fn()`` runs, counted through a job group."""
    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


# stats columns whose collected bounds JSON cannot hold as they are
TYPED_BOUNDS = {
    "decimal(10,2)": "id / 4",
    "date": "date_add(DATE'2024-01-01', CAST(id AS INT))",
    "timestamp": "timestamp_seconds(id * 3600)",
}


@pytest.mark.parametrize("key_type", list(TYPED_BOUNDS))
def test_typed_bounds_round_trip_and_prune(spark, tmp_path, key_type):
    """Bounds on decimal, date and timestamp columns commit, decode to
    the exact [min, max] each file set holds, and let plan_pruned and
    read_point keep exactly the one file set that holds a value."""
    t = SnapshotTable(str(tmp_path / "t"))
    rows = spark.range(0, 20).select(F.expr(TYPED_BOUNDS[key_type]).cast(key_type).alias("k"), "id")
    for i in range(2):
        t.append(rows.where((F.col("id") >= 10 * i) & (F.col("id") < 10 * i + 10)), stats_cols=["k"], bloom_cols=["k"])
    m = t._read_manifest()
    for rel, bounds, _ in t._files(m, "k"):
        lo_hi = t._scan(spark, [rel]).agg(F.min("k"), F.max("k")).first()
        assert bounds == [lo_hi[0], lo_hi[1]], (key_type, rel)
    value = t.read(spark).where("id = 13").first().k
    holds = [rel for rel in m["files"] if t._scan(spark, [rel]).where(F.col("k") == F.lit(value)).count()]
    assert t.plan_pruned("k", value, value) == (holds, 2) and len(holds) == 1
    df, planned, total = t.read_point(spark, "k", value)
    assert (planned, total) == (1, 2) and [r.id for r in df.collect()] == [13]


def test_bad_schema_or_index_raises_before_any_write(spark, tmp_path):
    """An unsupported stats type and a column whose type conflicts with
    the table's each raise ValueError before a file set is written."""
    t = SnapshotTable(str(tmp_path / "t"))
    data = os.path.join(t.table_dir, "data")
    with pytest.raises(ValueError, match="'b'"):
        t.append(spark.range(3).select(F.col("id").alias("k"), F.array("id").alias("b")), stats_cols=["b"])
    assert os.listdir(data) == [] and t.snapshots() == []
    t.append(spark.range(3).withColumnRenamed("id", "k"))
    with pytest.raises(ValueError, match="'k'"):
        t.append(spark.range(3).select(F.col("id").cast("string").alias("k")))
    with pytest.raises(ValueError, match="'k'"):
        t.merge_upsert(spark, spark.range(3).select(F.col("id").cast("int").alias("k")), "k")
    assert len(os.listdir(data)) == 1 and t.snapshots() == [1]


def test_copy_on_write_keeps_the_index_spec(spark, tmp_path):
    """delete_keys and merge_upsert with no index arguments index the
    file sets they write as the table's are: bounds and a bloom at the
    recorded fpp, so plan_point still keeps 1 of 4 file sets."""
    from ip_filter_spark.sources.skipping import bloom_of

    t = SnapshotTable(str(tmp_path / "t"))
    base = spark.range(0, 40).select(F.col("id").alias("k"), (F.col("id") * 10).alias("v"))
    for i in range(4):
        t.append(base.where(F.col("k") % 4 == i), stats_cols=["k"], bloom_cols=["k"], bloom_fpp=1e-6)
    t.delete_keys(spark, "k", [5])
    kept, total = t.plan_point("k", 9)
    assert (len(kept), total) == (1, 4) and t._scan(spark, kept).where("k = 9").count() == 1
    # the upsert rewrites bucket 2 and writes its inserted row as a fifth file set
    t.merge_upsert(spark, spark.createDataFrame([(6, -6), (100, -100)], "k long, v long"), "k")
    m = t._read_manifest()
    assert len(m["files"]) == 5
    for rel in m["files"]:
        assert set(m["file_stats"][rel]) == {"k"}
        assert bloom_of(m["file_blooms"][rel]["k"]).fpp == 1e-6
    assert [len(t.plan_point("k", v)[0]) for v in (9, 6, 100)] == [1, 1, 1]


def test_plain_read_returns_the_evolved_schema(spark, tmp_path):
    """An append that adds a column merges it into the manifest schema:
    read, read_pruned and incremental all scan the union of the columns,
    NULL where a file set predates the column."""
    t = SnapshotTable(str(tmp_path / "t"))
    t.append(spark.range(0, 4).withColumnRenamed("id", "k"), stats_cols=["k"])
    t.append(spark.range(4, 6).select(F.col("id").alias("k"), F.lit("x").alias("tag")), stats_cols=["k"])
    got = {r.k: r.tag for r in t.read(spark).collect()}
    assert got == {0: None, 1: None, 2: None, 3: None, 4: "x", 5: "x"}
    df, _, _ = t.read_pruned(spark, "k", 0, 1)
    assert df.columns == ["k", "tag"] and df.count() == 2
    assert t.incremental(spark, 0, 2).columns == ["k", "tag"]
    assert t.read(spark, sid=1).columns == ["k"]


def test_planning_reads_no_footer(spark, tmp_path):
    """plan_point runs one Spark job (the probe-key hash) and the
    readers run none: the schema comes from the manifest."""
    t = SnapshotTable(str(tmp_path / "t"))
    base = spark.range(0, 40).select(F.col("id").alias("k"))
    for i in range(4):
        t.append(base.where(F.col("k") % 4 == i), stats_cols=["k"], bloom_cols=["k"])
    assert _jobs(spark, lambda: t.plan_point("k", 13)) == 1
    assert _jobs(spark, lambda: t.read_point(spark, "k", 13)) == 1
    assert _jobs(spark, lambda: t.read(spark)) == 0
    assert _jobs(spark, lambda: t.read_pruned(spark, "k", 3, 5)) == 0
    assert _jobs(spark, lambda: t.incremental(spark, 1, 3)) == 0
