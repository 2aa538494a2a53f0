"""KMV (k-minimum-values) / theta sketch — mergeable distinct-count
sketch WITH set algebra (Beyer et al., "On Synopses for Distinct-Value
Estimation Under Multiset Operations", SIGMOD'07; the theta-sketch
framing follows the Apache DataSketches literature).

Complements HyperLogLog in the north-rule family: HLL unions perfectly
but cannot intersect; KMV keeps the k smallest key hashes, so any two
sketches can be intersected/differenced below a common threshold theta
with relative error ~ 1/sqrt(k) (scaled by Jaccard for intersections).

State is one sorted uint64 array (≤ k values) — merge is a set-union
keep-k-smallest, associative and byte-stable, so distributed builds are
order-independent; serialization rides the standard framed blob.

Estimator: with fewer than k distinct hashes the sketch is EXACT (it
holds every hash); at capacity, est = (k - 1) / theta where
theta = kth smallest / 2^64.
"""

from __future__ import annotations

from typing import Any

import numpy as np

from ip_filter_spark.sketches.base import Sketch

_U64 = float(2**64)


class KMVSketch(Sketch):
    NAME = "kmv"

    def __init__(self, k: int = 1024):
        assert k >= 16
        self.k = int(k)
        self.mins = np.zeros(0, dtype=np.uint64)  # sorted, distinct
        self.n_items = 0

    # ------------------------------------------------------------- lifecycle
    def _params(self) -> dict[str, Any]:
        return {"k": self.k}

    def _arrays(self) -> dict[str, np.ndarray]:
        return {"mins": self.mins}

    @classmethod
    def _from_state(cls, params: dict, arrays: dict[str, np.ndarray]) -> "KMVSketch":
        sk = cls(k=int(params["k"]))
        sk.mins = arrays["mins"].astype(np.uint64)
        return sk

    # --------------------------------------------------------------- updates
    def update_hashes(self, h64: np.ndarray) -> "KMVSketch":
        self.n_items += int(len(h64))
        if len(h64):
            self.mins = self._keep_k(np.concatenate([self.mins, h64.astype(np.uint64)]))
        return self

    def merge(self, other: "KMVSketch") -> "KMVSketch":
        self._check_merge(other, "k")
        self.n_items += other.n_items
        self.mins = self._keep_k(np.concatenate([self.mins, other.mins]))
        return self

    def _keep_k(self, vals: np.ndarray) -> np.ndarray:
        u = np.unique(vals)  # sorted + distinct
        return u[: self.k]

    # ------------------------------------------------------------ estimators
    def _cut(self) -> int:
        """Integer hash-space cut: hashes strictly below it are retained.
        2^64 (everything) below capacity; kth-min + 1 at capacity. Kept in
        exact integer domain — theta as float64 loses ~11 low bits, so an
        int(theta * 2^64) round-trip can land thousands of ULPs off the
        kth min and the 2^64-1 clamp could drop a hash equal to 2^64-1
        from intersections even when theta == 1 (ADVICE r2)."""
        if len(self.mins) < self.k:
            return 2**64
        return int(self.mins[self.k - 1]) + 1

    def _theta(self) -> float:
        return self._cut() / _U64

    def estimate(self) -> float:
        if len(self.mins) < self.k:
            return float(len(self.mins))  # exact below capacity
        return (self.k - 1) / self._theta()

    def rel_error_bound(self) -> float:
        return 1.0 / np.sqrt(self.k - 2)

    # ------------------------------------------------------------ set algebra
    def _below_common_theta(self, other: "KMVSketch") -> tuple[np.ndarray, np.ndarray, float]:
        cut = min(self._cut(), other._cut())
        theta = cut / _U64
        if cut >= 2**64:  # both below capacity: keep everything
            return self.mins, other.mins, theta
        c = np.uint64(cut)
        return self.mins[self.mins < c], other.mins[other.mins < c], theta

    def intersect_estimate(self, other: "KMVSketch") -> float:
        """Estimated |A ∩ B|: matching hashes below the common theta,
        scaled by 1/theta. Exact when both sketches are below capacity."""
        a, b, theta = self._below_common_theta(other)
        common = np.intersect1d(a, b, assume_unique=True)
        return len(common) / theta

    def union_estimate(self, other: "KMVSketch") -> float:
        a, b, theta = self._below_common_theta(other)
        u = np.union1d(a, b)[: self.k]
        if len(u) < self.k and theta >= 1.0:
            return float(len(u))
        return len(u) / theta if len(u) < self.k else (self.k - 1) / ((float(u[self.k - 1]) + 1.0) / _U64)

    def difference_estimate(self, other: "KMVSketch") -> float:
        """Estimated |A \\ B| = |A| below theta minus matches, scaled."""
        a, b, theta = self._below_common_theta(other)
        common = np.intersect1d(a, b, assume_unique=True)
        return (len(a) - len(common)) / theta

    def jaccard_estimate(self, other: "KMVSketch") -> float:
        a, b, _ = self._below_common_theta(other)
        if len(a) == 0 and len(b) == 0:
            return 0.0
        inter = len(np.intersect1d(a, b, assume_unique=True))
        return inter / len(np.union1d(a, b))
