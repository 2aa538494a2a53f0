"""Counting Bloom filter — membership with deletes + duplicate heuristics.

North-rule extension (no reference implementation; standard extension of
the bit ops in /root/reference/prototype/bloomfilter.py): each slot is a
saturating uint16 counter. Merge is saturating elementwise sum, so
partition-local partials combine associatively. ``min_count`` gives the
classic CMS-style upper-bound estimate of a key's multiplicity.
"""

from __future__ import annotations

from typing import Any

import numpy as np

from ip_filter_spark.sketches.base import Sketch
from ip_filter_spark.sketches.bloom import solve_params
from ip_filter_spark.sketches.hashing import km_indices

_MAX = np.iinfo(np.uint16).max


class CountingBloomFilter(Sketch):
    NAME = "cbf"

    def __init__(
        self,
        fpp: float = 1e-4,
        n: int = 1,
        k: int | None = None,
        num_counters: int | None = None,
        _counters: np.ndarray | None = None,
    ):
        self.fpp = float(fpp)
        self.k, self.m = solve_params(fpp, n, k, num_counters)
        self.expected_n = int(n)
        self.n_items = 0
        self.counters = _counters if _counters is not None else np.zeros(self.m, dtype=np.uint16)
        # set once any counter cell has clipped at the uint16 max: from
        # that point the subtract()/min_count() one-sided guarantees no
        # longer hold (a saturated cell undercounts after subtraction)
        self.saturated = False

    def _ix(self, h64: np.ndarray) -> np.ndarray:
        return km_indices(h64, np.arange(self.k, dtype=np.uint64), self.m)

    def update_hashes(self, h64: np.ndarray) -> "CountingBloomFilter":
        if len(h64) == 0:
            return self
        ix = self._ix(h64).ravel().astype(np.int64)
        # saturating add: bincount in int64 then clip
        add = np.bincount(ix, minlength=self.m)
        wide = self.counters.astype(np.int64) + add
        if wide.max(initial=0) > _MAX:
            self.saturated = True
        np.clip(wide, 0, _MAX, out=wide)
        self.counters = wide.astype(np.uint16)
        self.n_items += len(h64)
        return self

    def remove_hashes(self, h64: np.ndarray) -> "CountingBloomFilter":
        """Delete support — the whole point of counting over plain Bloom."""
        if len(h64) == 0:
            return self
        ix = self._ix(h64).ravel().astype(np.int64)
        sub = np.bincount(ix, minlength=self.m)
        wide = self.counters.astype(np.int64) - sub
        np.clip(wide, 0, _MAX, out=wide)
        self.counters = wide.astype(np.uint16)
        self.n_items = max(0, self.n_items - len(h64))
        return self

    def subtract(self, other: "CountingBloomFilter") -> "CountingBloomFilter":
        """Blob-level deletion: counters are linear, so subtracting a
        filter built over the deleted multiset equals having removed
        those keys hash-by-hash (exact when deletions ⊆ insertions,
        which the caller guarantees; clipped at 0 otherwise). This is
        what makes deletion DISTRIBUTABLE: build the deletion filter
        with the same scan→partials→merge pipeline as the insert filter
        and subtract two blobs on the driver — no per-key replay.

        Raises if either side ever saturated a counter cell: a clipped
        cell undercounts after subtraction, so the 'never undercounts'
        bound would silently break. Size the filter (n / num_counters)
        so per-cell loads stay far below the uint16 max."""
        if self._params() != other._params():
            raise ValueError("subtract requires identical CBF params")
        if self.saturated or other.saturated:
            raise ValueError(
                "CBF counter saturated (uint16 clip): subtract()'s never-undercounts "
                "guarantee no longer holds — rebuild with more counters"
            )
        wide = self.counters.astype(np.int64) - other.counters.astype(np.int64)
        np.clip(wide, 0, _MAX, out=wide)
        self.counters = wide.astype(np.uint16)
        self.n_items = max(0, self.n_items - other.n_items)
        return self

    def contains_hashes(self, h64: np.ndarray) -> np.ndarray:
        if len(h64) == 0:
            return np.zeros(0, dtype=bool)
        return (self.counters[self._ix(h64).astype(np.int64)] > 0).all(axis=1)

    def min_count(self, h64: np.ndarray) -> np.ndarray:
        """Upper bound on each key's insert multiplicity."""
        if len(h64) == 0:
            return np.zeros(0, dtype=np.int64)
        return self.counters[self._ix(h64).astype(np.int64)].min(axis=1).astype(np.int64)

    def merge(self, other: "CountingBloomFilter") -> "CountingBloomFilter":
        self._check_merge(other, "m", "k")
        wide = self.counters.astype(np.int64) + other.counters.astype(np.int64)
        if wide.max(initial=0) > _MAX:
            self.saturated = True
        self.saturated |= other.saturated
        np.clip(wide, 0, _MAX, out=wide)
        self.counters = wide.astype(np.uint16)
        self.n_items += other.n_items
        return self

    def _params(self) -> dict[str, Any]:
        return {"fpp": self.fpp, "k": self.k, "m": self.m, "expected_n": self.expected_n}

    def _arrays(self) -> dict[str, np.ndarray]:
        # content-adaptive, like BloomFilter/CMS: low-fill partials ship
        # (index, count) pairs instead of the dense counter array
        nz = np.flatnonzero(self.counters)
        sat = np.array([int(self.saturated)], dtype=np.uint8)
        ix_dt = np.uint32 if self.m <= 0xFFFFFFFF else np.int64
        if len(nz) * (np.dtype(ix_dt).itemsize + self.counters.dtype.itemsize) < self.counters.nbytes:
            return {"sparse_ix": nz.astype(ix_dt), "sparse_val": self.counters[nz], "sat": sat}
        return {"counters": self.counters, "sat": sat}

    @classmethod
    def _from_state(cls, params: dict, arrays: dict[str, np.ndarray]) -> "CountingBloomFilter":
        if "sparse_ix" in arrays:
            counters = np.zeros(params["m"], dtype=arrays["sparse_val"].dtype)
            counters[arrays["sparse_ix"].astype(np.int64)] = arrays["sparse_val"]
        else:
            counters = arrays["counters"]
        out = cls(
            fpp=params["fpp"], n=params["expected_n"], k=params["k"],
            num_counters=params["m"], _counters=counters,
        )
        if "sat" in arrays:
            out.saturated = bool(arrays["sat"][0])
        return out
