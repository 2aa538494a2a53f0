"""Count-Sketch (AMS) — unbiased frequency + second-moment estimation.

Charikar, Chen & Farach-Colton 2002 (Count-Sketch) over the classic
Alon–Matias–Szegedy 1996 tug-of-war estimator: a d x w signed counter
matrix. Each row r hashes a key to one bucket (column hash) and a sign
in {-1, +1} (sign hash); update adds sign * count to that cell.

Estimators (all medians over the d independent rows, which boosts the
per-row constant-probability guarantee to 1 - delta for d = O(log 1/d)):

- point frequency:  median_r( sign_r(x) * table[r, col_r(x)] ) —
  UNBIASED (unlike count-min's one-sided overestimate), error
  |est - f(x)| <= sqrt(F2 / w) per row w.p. >= 2/3.
- second moment F2 = sum_x f(x)^2:  median_r( sum_j table[r, j]^2 ) —
  the AMS tug-of-war estimator; per row unbiased with variance
  <= 2 * F2^2 / w, so relative error <= sqrt(8/w) w.p. >= 3/4
  (Chebyshev), boosted by the median over rows.

Merge = elementwise sum (linear sketch), so partial sketches built per
Spark partition OR-merge associatively/commutatively — same build shape
as count-min. F2 of a UNION stream is estimated from the merged table;
the inner product <a, b> (join size) is median_r( row_a . row_b ), also
unbiased, which complements count-min's one-sided join-size bound.

Row hashes derive from the single per-key 64-bit hash via independent
splitmix finalizers (hashing.rehash): column hash from salt r, sign
hash from salt d + r (disjoint salt series, so sign and column are
independent). Reference analog: the reference's bloom kernels double-
hash from one base hash the same way (prototype/bloomfilter.py); the
AMS family itself has no reference counterpart — it extends the north
rule's sketch set.
"""

from __future__ import annotations

from typing import Any

import numpy as np

from ip_filter_spark.sketches.base import Sketch
from ip_filter_spark.sketches.hashing import rehash


class CountSketch(Sketch):
    NAME = "countsketch"

    def __init__(
        self,
        width: int = 2048,
        depth: int = 7,
        _table: np.ndarray | None = None,
    ):
        self.w = int(width)
        self.d = int(depth)
        self.n_items = 0
        self.table = _table if _table is not None else np.zeros((self.d, self.w), dtype=np.int64)

    def _cols(self, h64: np.ndarray) -> np.ndarray:
        """(d, n) column indices — salt series [0, d)."""
        return np.stack([rehash(h64, r) % np.uint64(self.w) for r in range(self.d)]).astype(np.int64)

    def _signs(self, h64: np.ndarray) -> np.ndarray:
        """(d, n) signs in {-1, +1} — salt series [d, 2d), independent of
        the column hashes."""
        return np.stack(
            [1 - 2 * (rehash(h64, self.d + r) & np.uint64(1)).astype(np.int64) for r in range(self.d)]
        )

    def update_hashes(self, h64: np.ndarray, counts: np.ndarray | None = None) -> "CountSketch":
        if len(h64) == 0:
            return self
        cols = self._cols(h64)
        signs = self._signs(h64)
        if counts is None:
            w = signs.astype(np.float64)
            self.n_items += len(h64)
        else:
            w = signs * counts.astype(np.int64)
            self.n_items += int(counts.sum())
        for r in range(self.d):
            self.table[r] += np.bincount(cols[r], weights=w[r], minlength=self.w).astype(np.int64)
        return self

    def query_hashes(self, h64: np.ndarray) -> np.ndarray:
        """(n,) int64 unbiased point-frequency estimates (median of
        sign-corrected cells across rows)."""
        if len(h64) == 0:
            return np.zeros(0, dtype=np.int64)
        cols = self._cols(h64)
        signs = self._signs(h64)
        rows = np.arange(self.d)[:, None]
        per_row = signs * self.table[rows, cols]
        return np.median(per_row, axis=0).astype(np.int64)

    def f2_estimate(self) -> float:
        """AMS second-moment estimate: median over rows of sum(row^2)."""
        row_f2 = np.einsum("ij,ij->i", self.table, self.table).astype(np.float64)
        return float(np.median(row_f2))

    def f2_rel_error_bound(self) -> float:
        """Per-row Chebyshev relative-error bound sqrt(8/w) at probability
        >= 3/4, made high-probability by the median over d rows."""
        return float(np.sqrt(8.0 / self.w))

    def inner_product(self, other: "CountSketch") -> float:
        """Unbiased join-size estimate <f_a, f_b>: median of per-row dot
        products. Requires identical (w, d) — same hash family."""
        assert self.w == other.w and self.d == other.d, "incompatible CountSketch params"
        dots = np.einsum("ij,ij->i", self.table, other.table).astype(np.float64)
        return float(np.median(dots))

    def merge(self, other: "CountSketch") -> "CountSketch":
        self._check_merge(other, "w", "d")
        self.table += other.table
        self.n_items += other.n_items
        return self

    def _params(self) -> dict[str, Any]:
        return {"w": self.w, "d": self.d}

    def _arrays(self) -> dict[str, np.ndarray]:
        # same content-adaptive sparse form as count-min: per-partition
        # partials touch <= d * (rows in partition) cells
        flat = self.table.ravel()
        nz = np.flatnonzero(flat)
        ix_dt = np.uint32 if flat.size <= 0xFFFFFFFF else np.int64
        sparse_bytes = len(nz) * (np.dtype(ix_dt).itemsize + 8)
        if sparse_bytes < flat.nbytes:
            return {"sparse_ix": nz.astype(ix_dt), "sparse_val": flat[nz]}
        return {"table": self.table}

    @classmethod
    def _from_state(cls, params: dict, arrays: dict[str, np.ndarray]) -> "CountSketch":
        if "sparse_ix" in arrays:
            flat = np.zeros(params["d"] * params["w"], dtype=np.int64)
            flat[arrays["sparse_ix"].astype(np.int64)] = arrays["sparse_val"]
            table = flat.reshape(params["d"], params["w"])
        else:
            table = arrays["table"]
        return cls(width=params["w"], depth=params["d"], _table=table)
