"""ip_filter_spark — a from-scratch PySpark-native distributed sketch /
approximate-aggregation library.

Re-expresses the capabilities of the reference ``myegorov/ip-filter``
(a single-node Bloom-filter longest-prefix-match engine) as a mergeable
sketch library over columnar tables of source-code-like corpora:

- standard + counting Bloom filters with guided (BST) longest-prefix-match
  lookup (the reference's core, ``/root/reference/prototype/ipfilter.py``),
- HyperLogLog, count-min sketch, KLL, t-digest, MinHash (north-rule
  additions),
- an Arrow-vectorized build → tree-merge → broadcast-probe harness
  (``engine.py``),
- training-data-pipeline operators: dedup (exact / MinHash-LSH / SimHash /
  n-gram Jaccard / embedding cosine), ANN similarity search, text analysis,
  multimodal plumbing (``operators/``).

Design stance: sketches are plain numpy-backed values (update_batch /
merge / to_bytes / from_bytes / estimate); Spark provides the distributed
lifecycle via DataFrame ops + ``mapInPandas`` / ``applyInPandas``. No
per-row Python anywhere on the hot path.
"""

from ip_filter_spark import zipcache
from ip_filter_spark.version import __version__

# Runs in every Python worker that unpickles a package function: Spark's
# per-task importlib.invalidate_caches() stops re-reading unchanged zips.
zipcache.install()

# One combined __all__, assigned once (round-1 ADVICE: four successive
# assignments left only the last list live). Heavy submodules re-export
# lazily through __getattr__ so `import ip_filter_spark` stays cheap.
_EXPORTS = {
    # engine lifecycle
    "SketchSpec": "ip_filter_spark.engine",
    "build_and_merge": "ip_filter_spark.engine",
    "build_keyed_sketches": "ip_filter_spark.engine",
    "resume_or_build": "ip_filter_spark.engine",
    "probe_membership": "ip_filter_spark.engine",
    "salted_repartition": "ip_filter_spark.engine",
    "tree_merge": "ip_filter_spark.engine",
    # sketch kernels
    "BloomFilter": "ip_filter_spark.sketches",
    "CountingBloomFilter": "ip_filter_spark.sketches",
    "HyperLogLog": "ip_filter_spark.sketches",
    "CountMinSketch": "ip_filter_spark.sketches",
    "KLLSketch": "ip_filter_spark.sketches",
    "TDigest": "ip_filter_spark.sketches",
    "MinHashSignatures": "ip_filter_spark.sketches",
    "MisraGries": "ip_filter_spark.sketches.misra_gries",
    "from_bytes": "ip_filter_spark.sketches",
    "make_sketch": "ip_filter_spark.sketches",
    # operators
    "PathLPM": "ip_filter_spark.operators.lpm",
    "exact_lpm": "ip_filter_spark.operators.lpm",
    "derive_prefix_table": "ip_filter_spark.operators.lpm",
    "build_ip4_lpm": "ip_filter_spark.operators.cidr",
    "lookup_ip4": "ip_filter_spark.operators.cidr",
    "build_ip6_lpm": "ip_filter_spark.operators.cidr",
    "lookup_ip6": "ip_filter_spark.operators.cidr",
    "mg_heavy_hitters": "ip_filter_spark.operators.topk",
    "exact_topk": "ip_filter_spark.operators.topk",
}

__all__ = ["__version__", *sorted(_EXPORTS)]


def __getattr__(name: str):
    if name in _EXPORTS:
        import importlib

        return getattr(importlib.import_module(_EXPORTS[name]), name)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
