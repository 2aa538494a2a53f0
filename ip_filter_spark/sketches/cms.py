"""Count-min sketch — frequency / heavy-hitter estimation.

Cormode & Muthukrishnan 2005: a d x w counter matrix; point estimate is
the row-wise min; overestimate <= eps*N with probability >= 1-delta for
w = ceil(e/eps), d = ceil(ln(1/delta)). Merge = elementwise sum.

Row hashes derive from the single per-key 64-bit hash via independent
splitmix finalizers (hashing.rehash) — one vectorized mix per row.
"""

from __future__ import annotations

from math import ceil, e, log
from typing import Any

import numpy as np

from ip_filter_spark.sketches.base import Sketch
from ip_filter_spark.sketches.hashing import rehash


class CountMinSketch(Sketch):
    NAME = "cms"

    def __init__(
        self,
        eps: float = 1e-4,
        delta: float = 1e-3,
        width: int | None = None,
        depth: int | None = None,
        conservative: bool = False,
        _table: np.ndarray | None = None,
    ):
        self.eps = float(eps)
        self.delta = float(delta)
        self.conservative = bool(conservative)
        self.w = int(width) if width else int(ceil(e / eps))
        self.d = int(depth) if depth else int(ceil(log(1.0 / delta)))
        self.n_items = 0
        self.table = _table if _table is not None else np.zeros((self.d, self.w), dtype=np.int64)

    def _cols(self, h64: np.ndarray) -> np.ndarray:
        """(d, n) column indices."""
        return np.stack([rehash(h64, r) % np.uint64(self.w) for r in range(self.d)]).astype(np.int64)

    def update_hashes(self, h64: np.ndarray, counts: np.ndarray | None = None) -> "CountMinSketch":
        if len(h64) == 0:
            return self
        if self.conservative:
            return self.update_hashes_conservative(h64, counts)
        cols = self._cols(h64)
        if counts is None:
            for r in range(self.d):
                self.table[r] += np.bincount(cols[r], minlength=self.w)
            self.n_items += len(h64)
        else:
            counts = counts.astype(np.int64)
            for r in range(self.d):
                self.table[r] += np.bincount(cols[r], weights=counts, minlength=self.w).astype(np.int64)
            self.n_items += int(counts.sum())
        return self

    def update_hashes_conservative(
        self, h64: np.ndarray, counts: np.ndarray | None = None
    ) -> "CountMinSketch":
        """Conservative update (Estan & Varghese 2002): raise each of an
        item's d counters only to ``min(its counters) + count`` — never
        higher. Point estimates stay one-sided (never undercount) but
        collide far less, so est_conservative <= est_vanilla cellwise by
        induction (each update writes values <= the vanilla update's).

        Items are folded per unique key first and processed in sorted
        hash order, so the result is a deterministic function of the
        batch MULTISET — partition-layout independent, like every other
        kernel here.

        Distributed caveat (documented, verified in the gate): sum-merge
        of conservative partials is still a sound upper bound and still
        cellwise <= the merged vanilla table, but looser than a
        single-pass conservative build — exact <= est_cons_merged <=
        est_vanilla_merged is the invariant the library guarantees."""
        if len(h64) == 0:
            return self
        uniq, inv = np.unique(h64, return_inverse=True)
        if counts is None:
            ucnt = np.bincount(inv, minlength=len(uniq)).astype(np.int64)
        else:
            ucnt = np.bincount(inv, weights=counts.astype(np.int64), minlength=len(uniq)).astype(
                np.int64
            )
        cols = self._cols(uniq)  # (d, u)
        rr = np.arange(self.d)
        for j in range(len(uniq)):
            cj = cols[:, j]
            vals = self.table[rr, cj]
            # fancy indexing yields a copy — read, max, write back
            self.table[rr, cj] = np.maximum(vals, vals.min() + ucnt[j])
        self.n_items += int(ucnt.sum())
        return self

    def query_hashes(self, h64: np.ndarray) -> np.ndarray:
        """(n,) int64 upper-bound counts (row-wise min)."""
        if len(h64) == 0:
            return np.zeros(0, dtype=np.int64)
        cols = self._cols(h64)
        rows = np.arange(self.d)[:, None]
        return self.table[rows, cols].min(axis=0)

    def error_bound(self) -> float:
        """Additive overestimate bound eps*N (holds w.p. >= 1-delta)."""
        return (e / self.w) * self.n_items

    def inner_product(self, other: "CountMinSketch") -> int:
        """Join-size / inner-product estimate a.b (Cormode & Muthukrishnan
        §4.2): row-wise dot products, min over rows. Never underestimates;
        overshoot <= (e/w) * N_a * N_b with probability >= 1 - delta.
        Requires identical (w, d) so both tables use the same hash family."""
        assert self.w == other.w and self.d == other.d, "incompatible CMS params"
        return int(np.einsum("ij,ij->i", self.table, other.table).min())

    def inner_product_bound(self, other: "CountMinSketch") -> float:
        return (e / self.w) * self.n_items * other.n_items

    def merge(self, other: "CountMinSketch") -> "CountMinSketch":
        self._check_merge(other, "w", "d")
        self.table += other.table
        self.n_items += other.n_items
        return self

    def _params(self) -> dict[str, Any]:
        p: dict[str, Any] = {"eps": self.eps, "delta": self.delta, "w": self.w, "d": self.d}
        if self.conservative:
            p["conservative"] = True
        return p

    def _arrays(self) -> dict[str, np.ndarray]:
        # content-adaptive serialization: per-partition partials touch at
        # most k·(rows in partition) of the d·w counters, so low-fill
        # tables ship (flat index, count) pairs instead of the dense
        # int64 grid — merge traffic is O(P · blob) at scale. The format
        # is a pure function of table content (build-path independent).
        flat = self.table.ravel()
        nz = np.flatnonzero(flat)
        ix_dt = np.uint32 if flat.size <= 0xFFFFFFFF else np.int64
        sparse_bytes = len(nz) * (np.dtype(ix_dt).itemsize + 8)
        if sparse_bytes < flat.nbytes:
            return {"sparse_ix": nz.astype(ix_dt), "sparse_val": flat[nz]}
        return {"table": self.table}

    @classmethod
    def _from_state(cls, params: dict, arrays: dict[str, np.ndarray]) -> "CountMinSketch":
        if "sparse_ix" in arrays:
            flat = np.zeros(params["d"] * params["w"], dtype=np.int64)
            flat[arrays["sparse_ix"].astype(np.int64)] = arrays["sparse_val"]
            table = flat.reshape(params["d"], params["w"])
        else:
            table = arrays["table"]
        return cls(
            eps=params["eps"],
            delta=params["delta"],
            width=params["w"],
            depth=params["d"],
            conservative=params.get("conservative", False),
            _table=table,
        )
