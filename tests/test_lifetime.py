"""Every public operator gives back the executor storage it used.

Each case runs one operator over an input frame of its own (so a cache
another case leaked cannot be plan-shared into this one and hide a
leak), consumes the result, drops it, and forces a Python and a JVM
GC. Whatever the call persisted must then be gone: pinned
intermediates at return, cuts once their result is dropped (Spark's
ContextCleaner frees those asynchronously, hence the poll).
"""

from __future__ import annotations

import gc
import re
import time
from dataclasses import dataclass
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from ip_filter_spark.engine import SketchSpec, rollup_keyed_sketches
from ip_filter_spark.operators import quantiles
from ip_filter_spark.operators.bpe import bpe_train_batched
from ip_filter_spark.operators.dedup import (
    build_lsh_index,
    connected_components,
    minhash_lsh_pairs,
    oph_minhash_pairs,
    query_lsh_index,
    simhash_pairs,
)
from ip_filter_spark.operators.graph import pagerank_integer, resolve_hierarchy
from ip_filter_spark.operators.joins import bloom_anti_join, bloom_semi_join, broadcast_pair_join
from ip_filter_spark.operators.lpm import PathLPM, exact_lpm
from ip_filter_spark.operators.quantiles import equi_depth_histogram, exact_quantiles

PKG = Path(__file__).resolve().parent.parent / "ip_filter_spark"


@dataclass
class Case:
    """What a case needs; ``tag`` makes every input plan distinct."""

    spark: object
    sf_dir: str
    tag: int
    tmp_path: Path
    monkeypatch: object

    def docs(self):
        d = self.spark.read.parquet(f"{self.sf_dir}/documents.parquet")
        return d.where(F.col("doc_id") % 97 != self.tag).select(F.col("doc_id").alias("id"), "text")

    def events(self):
        return self.spark.read.parquet(f"{self.sf_dir}/events.parquet").where(F.col("event_id") % 97 != self.tag)

    def frame(self, rows, schema):
        return self.spark.createDataFrame(rows, schema)

    def routes(self):
        rows = [("a", 1), ("a/b", 2), ("a/b/c", 3), ("x", 1), ("x/y", 2), (f"t{self.tag}", 1)]
        return self.frame(rows, "prefix string, depth int")

    def paths(self):
        rows = [(p,) for p in ("a/b/c/d", "a/b/z", "a/q", "x/y/z", "x", "nope", f"t{self.tag}/u")]
        return self.frame(rows, "path string")

    def edges(self):
        rows = [(1, 2), (2, 3), (3, 1), (4, 5), (5, 6), (6, 4), (7, 8), (100 + self.tag, 1)]
        return self.frame(rows, "src long, dst long")

    def build_sides(self):
        return self.events(), self.events().where(F.col("user_id") % 3 == 0)


def _query_index(c: Case):
    idx, docs = str(c.tmp_path / "idx"), c.docs()
    build_lsh_index(docs.where(F.col("id") % 4 != 0), "id", "text", idx)
    return query_lsh_index(c.spark, idx, docs.where(F.col("id") % 4 == 0), "id", "text")


def _ranged_quantiles(c: Case):
    # refinement depth 0: the range-partition selection runs at once
    c.monkeypatch.setattr(quantiles, "_HIST_MAX_DEPTH", 0)
    return exact_quantiles(c.events(), "value", [0.1, 0.5, 0.9])


CASES = {
    "bloom_semi_join": lambda c: bloom_semi_join(*c.build_sides(), "user_id"),
    "bloom_anti_join": lambda c: bloom_anti_join(*c.build_sides(), "user_id"),
    "broadcast_pair_join": lambda c: broadcast_pair_join(
        c.frame([(1, 2), (3, 4 + c.tag)], "id_a long, id_b long"), c.docs(), "text", "ta", "tb"
    ),
    "minhash_t05": lambda c: minhash_lsh_pairs(c.docs(), "id", "text", threshold=0.5),
    "minhash_t08": lambda c: minhash_lsh_pairs(c.docs(), "id", "text", threshold=0.8),
    "oph_minhash": lambda c: oph_minhash_pairs(c.docs(), "id", "text", threshold=0.8),
    "simhash": lambda c: simhash_pairs(c.docs(), "id", "text"),
    "query_lsh_index": _query_index,
    "connected_components": lambda c: connected_components(c.edges(), "src", "dst", local_threshold=0),
    "pagerank": lambda c: pagerank_integer(c.edges()),
    "resolve_hierarchy": lambda c: resolve_hierarchy(
        c.frame([(1, None), (2, 1), (3, 2), (4, 3), (5 + c.tag, 4)], "node long, parent long")
    ),
    "bpe_train_batched": lambda c: bpe_train_batched(
        c.frame([("banana", 3), ("bandana", 2), ("ananas", 1 + c.tag)], "w string, wc long"), 4
    ),
    "exact_quantiles_ranged": _ranged_quantiles,
    "equi_depth_histogram": lambda c: equi_depth_histogram(c.events(), "value", 8, tie_col="event_id"),
    "exact_lpm": lambda c: exact_lpm(c.paths(), c.routes()),
    "lpm_build": lambda c: PathLPM.build(c.routes(), num_partitions=2, local_build_max_inserts=0),
    "lpm_exact_repair": lambda c: PathLPM.build(c.routes(), num_partitions=2).lookup(
        c.paths(), exact_repair=c.routes()
    ),
    "rollup_keyed_sketches": lambda c: rollup_keyed_sketches(
        c.events(), SketchSpec("hll", {"p": 10}), ["event_type"], key="user_id"
    ),
}


def _persisted(spark) -> set[int]:
    # read the ids off SparkContext's weak-valued registry itself:
    # getPersistentRDDs() copies it into a map of strong references that
    # py4j releases only some time later, which would hold the very RDDs
    # this test waits to see collected
    ids = spark.sparkContext._jsc.sc().persistentRdds().keys().mkString(",")
    return {int(x) for x in ids.split(",") if x}


@pytest.mark.parametrize("name", list(CASES))
def test_operator_returns_its_storage(spark, sf_dir, tmp_path, monkeypatch, name):
    tag = list(CASES).index(name) + 1
    before = _persisted(spark)
    result = CASES[name](Case(spark, sf_dir, tag, tmp_path, monkeypatch))
    if hasattr(result, "collect"):  # a DataFrame; PathLPM and BPE merges are already built
        result.collect()
    del result
    deadline = time.monotonic() + 30
    while True:
        gc.collect()
        spark._jvm.System.gc()
        held = _persisted(spark) - before
        if not held or time.monotonic() > deadline:
            break
        time.sleep(0.5)
    assert not held, f"{name} left {len(held)} persisted RDD(s) behind"


def test_only_lifetime_persists_or_checkpoints():
    """Pins and cuts go through ip_filter_spark/lifetime.py and nowhere else."""
    call = re.compile(r"\.(persist|cache|unpersist|localCheckpoint|checkpoint)\(")
    hits = [
        f"{p.relative_to(PKG)}:{n}"
        for p in sorted(PKG.rglob("*.py"))
        if p != PKG / "lifetime.py"
        for n, line in enumerate(p.read_text().splitlines(), 1)
        if call.search(line)
    ]
    assert not hits, hits
