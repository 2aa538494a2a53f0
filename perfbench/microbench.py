"""Driver-side sketch kernels with no Spark: hashing, update, merge,
serialization and probe of the five bench sketches (``SKETCH_SPECS``)
on one seeded stream of 16-byte key digests (the engine's digest width)
and values."""

from __future__ import annotations

import statistics
import time

import numpy as np

from ip_filter_spark.sketches import from_bytes
from ip_filter_spark.sketches.hashing import DIGEST_W, fnv1a64
from perfbench.workloads import SKETCH_SPECS


def _median_s(fn, reps: int, prepare=lambda: None) -> float:
    """Median wall of ``reps`` calls of ``fn(prepare())``, in seconds;
    ``prepare`` runs untimed."""
    walls = []
    for _ in range(reps):
        arg = prepare()
        t0 = time.perf_counter()
        fn(arg)
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def run(seed: int, n: int = 200_000, reps: int = 5) -> dict[str, float]:
    rng = np.random.default_rng(seed)
    digests = rng.integers(0, 256, size=(n, DIGEST_W), dtype=np.uint8)
    values = rng.exponential(1e4, size=n)
    h64 = fnv1a64(digests)
    out = {"sketches.hashing.fnv_ns_per_row": _median_s(lambda _: fnv1a64(digests), reps) / n * 1e9}
    half = n // 2
    specs = {spec.sketch: spec for spec in SKETCH_SPECS}
    for kind, spec in specs.items():
        data = h64 if spec.on == "hash" else values

        def built(part, spec=spec):
            sk = spec.make()
            sk.update_hashes(part) if spec.on == "hash" else sk.update_values(part)
            return sk

        out[f"sketches.{kind}.update_ns_per_row"] = _median_s(lambda _: built(data), reps) / n * 1e9
        a_blob, b = built(data[:half]).to_bytes(), built(data[half:])
        # merge mutates its receiver: each rep merges into a fresh copy
        out[f"sketches.{kind}.merge_ms"] = _median_s(lambda a: a.merge(b), reps, lambda: from_bytes(a_blob)) * 1e3
        out[f"sketches.{kind}.serde_ms"] = _median_s(lambda _: from_bytes(b.to_bytes()), reps) * 1e3
    bloom = specs["bloom"].make()
    bloom.update_hashes(h64[:half])
    out["sketches.bloom.probe_ns_per_row"] = _median_s(lambda _: bloom.contains_hashes(h64), reps) / n * 1e9
    cms = specs["cms"].make()
    cms.update_hashes(h64[:half])
    out["sketches.cms.probe_ns_per_row"] = _median_s(lambda _: cms.query_hashes(h64), reps) / n * 1e9
    return out
