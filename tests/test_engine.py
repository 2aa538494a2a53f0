"""Distributed lifecycle tests: Spark build/merge ≡ local single-pass build,
probe correctness, checkpoint/resume, sha256 invariant, skew repartition."""

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from ip_filter_spark.engine import (
    SketchSpec,
    build_and_merge,
    build_partials,
    checkpoint_partials,
    probe_counts,
    probe_membership,
    resume_or_build,
    salted_repartition,
    tree_merge,
)
from ip_filter_spark.sketches import BloomFilter, HyperLogLog, KLLSketch
from ip_filter_spark.sketches.hashing import fnv1a64, series_sha256
from ip_filter_spark.sources.corpus import synthesize_corpus


@pytest.fixture(scope="module")
def corpus(spark):
    df = synthesize_corpus(spark, n_rows=5000, n_repos=50, seed=7, num_partitions=8)
    df.cache().count()
    return df


def local_hashes(df):
    contents = [r.content for r in df.select("content").collect()]
    return fnv1a64(series_sha256(contents)), contents


def test_sha256_invariant(spark, corpus):
    """Spark-side sha2 digest == hashlib.sha256 per row (input_hint)."""
    rows = corpus.select("content", F.sha2("content", 256).alias("d")).limit(100).collect()
    for r in rows:
        assert r.d == hashlib.sha256(r.content.encode()).hexdigest()


def test_distributed_bloom_equals_local(spark, corpus):
    h64, _ = local_hashes(corpus)
    specs = [SketchSpec("bloom", {"fpp": 1e-4, "n": 5000})]
    got = build_and_merge(corpus, specs, key="content")[specs[0].key()]
    want = BloomFilter(fpp=1e-4, n=5000).insert_hashes(h64)
    assert bytes(got.bits) == bytes(want.bits)
    assert got.n_items == 5000


def test_distributed_hll_and_kll(spark, corpus):
    specs = [
        SketchSpec("hll", {"p": 13}),
        SketchSpec("kll", {"k": 200}, on="value"),
    ]
    got = build_and_merge(corpus, specs, key="content", value=F.length("content"))
    hll = got[specs[0].key()]
    true_distinct = corpus.select(F.countDistinct("content")).first()[0]
    assert abs(hll.estimate() - true_distinct) / true_distinct < 4 * hll.rel_error_bound()

    kll = got[specs[1].key()]
    lens = np.array([r[0] for r in corpus.select(F.length("content")).collect()], dtype=float)
    med = float(kll.quantile(0.5)[0])
    # discrete data with heavy ties: the true rank of a value is an interval
    rank_lo = (lens < med).mean()
    rank_hi = (lens <= med).mean()
    tol = 3 * kll.rank_error_bound()
    assert rank_lo - tol <= 0.5 <= rank_hi + tol, (rank_lo, rank_hi)


def test_probe_membership(spark, corpus):
    specs = [SketchSpec("bloom", {"fpp": 1e-5, "n": 5000})]
    bf = build_and_merge(corpus, specs, key="content")[specs[0].key()]
    probed = probe_membership(corpus.limit(500), "content", bf)
    assert probed.filter(~F.col("bloom_hit")).count() == 0  # no false negatives
    absent = spark.range(2000).select(F.concat(F.lit("absent-"), F.col("id").cast("string")).alias("content"))
    fp = probe_membership(absent, "content", bf).filter(F.col("bloom_hit")).count()
    assert fp <= 5
    # the count probe shares the probe body: a CMS never undercounts a
    # present key, and over absent keys its mean estimate stays within eps*N
    cms_spec = SketchSpec("cms", {"eps": 1e-3, "delta": 1e-3})
    cms = build_and_merge(corpus, [cms_spec], key="content")[cms_spec.key()]
    exact = corpus.groupBy("content").agg(F.count("*").alias("n"))
    counted = probe_counts(exact, "content", cms)
    assert counted.count() == exact.count()
    assert counted.filter(F.col("est_count") < F.col("n")).count() == 0
    mean_absent = probe_counts(absent, "content", cms).agg(F.mean("est_count")).first()[0]
    assert mean_absent <= cms.error_bound()


def test_tree_merge_multilevel(spark, corpus):
    specs = [SketchSpec("bloom", {"fpp": 1e-4, "n": 5000})]
    partials = build_partials(corpus, specs, key="content", num_partitions=16)
    assert partials.count() == 16
    merged = tree_merge(partials, fanout=2, levels=3).collect()
    assert len(merged) == 1
    h64, _ = local_hashes(corpus)
    want = BloomFilter(fpp=1e-4, n=5000).insert_hashes(h64)
    from ip_filter_spark.sketches import from_bytes

    assert bytes(from_bytes(bytes(merged[0].payload)).bits) == bytes(want.bits)
    assert merged[0].rows_seen == 5000


def test_checkpoint_resume(spark, corpus, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    specs = [SketchSpec("hll", {"p": 12})]
    first = resume_or_build(spark, corpus, specs, ckpt, key="content")
    # resume with same input: no rebuild needed, same estimate
    second = resume_or_build(spark, corpus, specs, ckpt, key="content")
    assert first[specs[0].key()].estimate() == second[specs[0].key()].estimate()
    # checkpoint has lineage columns
    lineage = spark.read.parquet(ckpt)
    assert {"partition_id", "rows_seen", "wall_ms", "params_hash"} <= set(lineage.columns)


def test_resume_with_new_spec_builds_it(spark, corpus, tmp_path):
    """ADVICE r1: resuming against an existing checkpoint with a NEW spec
    must build the new spec's partials (round 1 marked every partition
    done by pid alone and the new spec never built)."""
    ckpt = str(tmp_path / "ckpt2")
    specs_a = [SketchSpec("hll", {"p": 12})]
    resume_or_build(spark, corpus, specs_a, ckpt, key="content")
    specs_b = [
        SketchSpec("hll", {"p": 12}),
        SketchSpec("bloom", {"fpp": 1e-3, "n": 10_000}),
        SketchSpec("hll", {"p": 12}, tag="t"),
    ]
    out = resume_or_build(spark, corpus, specs_b, ckpt, key="content")
    bf = out[specs_b[1].key()]
    assert bf.n_items == 5000  # the new spec actually saw every row
    # a tagged spec is named by its key() in resume as in build
    assert out[specs_b[2].key()].n_items == 5000
    # and the original spec still resolves
    assert out[specs_b[0].key()].estimate() > 0


def test_duplicate_spec_keys_rejected(spark):
    """Two specs with one key() would merge their partials into one
    wrong sketch; the build refuses them and a tag= separates them."""
    df = spark.range(1000)
    with pytest.raises(ValueError, match="tag="):
        build_partials(df, [SketchSpec("hll", {"p": 12}, where="id % 2 = 0"), SketchSpec("hll", {"p": 12})], key="id")
    specs = [SketchSpec("hll", {"p": 12}, where="id % 2 = 0", tag="even"), SketchSpec("hll", {"p": 12})]
    got = build_and_merge(df, specs, key="id")
    assert [got[s.key()].n_items for s in specs] == [500, 1000]


def test_salted_repartition_balances_skew(spark, corpus):
    """Zipf repo sizes: salting must bound the max partition size."""
    df = salted_repartition(corpus, 16, F.col("repo"), salt_buckets=64)
    sizes = df.groupBy(F.spark_partition_id().alias("pid")).count().collect()
    counts = [r["count"] for r in sizes]
    # salted placement must be near-uniform even with Zipf repo sizes
    assert max(counts) <= 1.6 * (5000 / 16), counts
    # and strictly better than partitioning on the raw key
    raw = corpus.repartition(16, "repo").groupBy(F.spark_partition_id().alias("pid")).count().collect()
    assert max(counts) <= max(r["count"] for r in raw)


def test_read_source_table_formats(spark, sf_dir):
    """read_source_table: parquet path works; the iceberg branch fails
    with an actionable message when the runtime is absent (this sandbox
    has no iceberg jars — the reference production shape is documented,
    the plumbing is pinned)."""
    import pytest

    from ip_filter_spark.sources.tables import read_source_table

    df = read_source_table(spark, f"{sf_dir}/documents.parquet")
    assert df.count() > 0
    with pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
        read_source_table(spark, "iceberg:prod.corpus.files")


def test_package_zip_is_keyed_on_content(tmp_path, monkeypatch):
    """Two checkouts whose modules differ never ship each other's zip,
    whatever the files' mtimes say: the zip's name carries a hash of the
    package's contents. A zip shared by name once made a session ship
    another checkout's modules ahead of its own PYTHONPATH."""
    import os
    import tempfile
    import zipfile

    from ip_filter_spark.config import _package_zip

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    pkgs = {}
    for name, body in (("a", "X = 1\n"), ("b", "X = 2\n")):
        pkg = tmp_path / name / "ip_filter_spark"
        (pkg / "operators").mkdir(parents=True)
        (pkg / "__init__.py").write_text("")
        (pkg / "operators" / "lpm.py").write_text(body)
        pkgs[name] = pkg
    # b's modules are older than a's zip: an mtime check would reuse it
    os.utime(pkgs["b"] / "operators" / "lpm.py", (1, 1))

    def shipped(zip_path):
        with zipfile.ZipFile(zip_path) as zf:
            return {n: zf.read(n).decode() for n in zf.namelist()}

    zips = [(name, _package_zip(str(pkgs[name]))) for name in ("a", "b", "a", "b")]
    assert zips[0][1] == zips[2][1] and zips[1][1] == zips[3][1] and zips[0][1] != zips[1][1]
    for name, zip_path in zips:
        assert os.path.dirname(zip_path) == str(tmp_path)
        assert shipped(zip_path) == {
            "ip_filter_spark/__init__.py": "",
            "ip_filter_spark/operators/lpm.py": (pkgs[name] / "operators" / "lpm.py").read_text(),
        }


def test_spark_submit_py_files_packaging(tmp_path):
    """North-rule packaging: the job must ship via `spark-submit
    --py-files ip_filter_spark.zip` and import the package from the zip
    alone. Runs from an empty cwd so a repo-dir import can't mask a
    packaging failure."""
    import json
    import os
    import shutil
    import subprocess
    import zipfile

    submit = shutil.which("spark-submit")
    if submit is None:
        import pytest

        pytest.skip("spark-submit not on PATH")

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg_dir = os.path.join(repo, "ip_filter_spark")
    zip_path = tmp_path / "ip_filter_spark.zip"
    with zipfile.ZipFile(zip_path, "w") as zf:
        for root, _, files in os.walk(pkg_dir):
            for f in sorted(files):
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    zf.write(full, os.path.relpath(full, repo))
    out = subprocess.run(
        [
            submit, "--master", "local[4]",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--conf", "spark.ui.enabled=false",
            "--py-files", str(zip_path),
            os.path.join(repo, "scripts", "submit_sketch_job.py"),
            "/root/testdata/sf0.001",
        ],
        capture_output=True, text=True, timeout=300, cwd=tmp_path,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    line = [l for l in out.stdout.strip().splitlines() if l.startswith("{")][-1]
    res = json.loads(line)
    import duckdb

    n_expect = duckdb.sql("SELECT COUNT(*) FROM '/root/testdata/sf0.001/lineitem.parquet'").fetchone()[0]
    assert res["rows"] == n_expect, (res, n_expect)
    assert abs(res["hll_estimate"] - res["rows"]) / res["rows"] < 0.05, res


def test_rollup_keyed_sketches_equals_direct_builds(spark):
    """Every rollup level's sketch must estimate EXACTLY what a sketch
    built directly at that granularity estimates (merge losslessness),
    for both a max-register sketch (HLL) and an additive one (CMS)."""
    from pyspark.sql import functions as F

    from ip_filter_spark.engine import (
        SketchSpec,
        build_and_merge,
        build_keyed_sketches,
        rollup_keyed_sketches,
    )
    from ip_filter_spark.sketches import from_bytes

    rows = [
        (f"u{i % 37}", f"t{i % 3}", f"d{(i // 3) % 5}") for i in range(400)
    ]
    df = spark.createDataFrame(rows, "user string, typ string, day string")
    for spec in (SketchSpec("hll", {"p": 12}), SketchSpec("cms", {"eps": 1e-3, "delta": 1e-3})):
        rolled = rollup_keyed_sketches(df, spec, ["typ", "day"], key="user").collect()
        assert {r.level for r in rolled} == {0, 1, 2}
        n_fine = df.select("typ", "day").distinct().count()
        assert sum(1 for r in rolled if r.level == 2) == n_fine
        direct_typ = {
            r.group: bytes(r.payload)
            for r in build_keyed_sketches(df, spec, "typ", key="user").collect()
        }
        glob = build_and_merge(df, [spec], key=F.col("user"))[spec.key()]
        for r in rolled:
            sk = from_bytes(bytes(r.payload))
            if r.level == 1:
                other = from_bytes(direct_typ[r.typ])
            elif r.level == 0:
                assert r.typ is None and r.day is None
                other = glob
            else:
                continue
            assert sk.to_bytes() == other.to_bytes(), (spec.sketch, r.typ, r.day)
            assert r.n_items == other.n_items


def test_rollup_scans_input_exactly_once(spark):
    """The pyramid above the finest level must be derived from persisted
    blobs — the input rows flow through the build exactly once, counted
    by an accumulator inside an upstream mapInPandas stage."""
    from pyspark.sql import functions as F

    from ip_filter_spark.engine import SketchSpec, rollup_keyed_sketches

    n = 300
    acc = spark.sparkContext.accumulator(0)
    base = spark.createDataFrame(
        [(f"u{i % 7}", f"t{i % 2}", f"d{i % 3}") for i in range(n)],
        "user string, typ string, day string",
    )

    def counted(batches):
        for pdf in batches:
            acc.add(len(pdf))
            yield pdf

    df = base.mapInPandas(counted, schema=base.schema)
    rolled = rollup_keyed_sketches(df, SketchSpec("hll", {"p": 12}), ["typ", "day"], key="user")
    rolled.collect()
    rolled.collect()  # repeat actions must not rescan either
    assert acc.value == n, acc.value


def test_build_with_deletions_cuckoo_and_cbf(spark):
    """Sharded insert/delete build: a delete co-shards with its insert
    (same digest), so shard-local deletion is exact. Cuckoo exercises
    delete_hashes; CBF exercises the remove_hashes fallback."""
    from ip_filter_spark.engine import SketchSpec, build_with_deletions
    from ip_filter_spark.sketches.hashing import digests_to_matrix, fnv1a64, key_digest

    ins = spark.createDataFrame([(f"k{i}",) for i in range(500)], "key string")
    dels = spark.createDataFrame([(f"k{i}",) for i in range(0, 500, 2)], "key string")
    kept = fnv1a64(digests_to_matrix([key_digest(f"k{i}") for i in range(1, 500, 2)]))
    gone = fnv1a64(digests_to_matrix([key_digest(f"k{i}") for i in range(0, 500, 2)]))
    for spec in (SketchSpec("cuckoo", {"n": 600}), SketchSpec("cbf", {"fpp": 1e-4, "n": 600})):
        sk = build_with_deletions(ins, dels, spec, key="key", shards=8)
        assert sk.n_items == 250, spec.sketch
        assert sk.contains_hashes(kept).all(), spec.sketch
        # deleted keys answer like absent keys: FPR-bounded, not certain
        assert int(sk.contains_hashes(gone).sum()) <= 25, spec.sketch
