"""Frequent Directions matrix sketch (Liberty KDD'13; Ghashami et al.
SIAM J. Comput. 2016 for the mergeability proof).

Maintains an ell x d matrix B such that for the row-stream matrix A:

    0 <= x^T A^T A x - x^T B^T B x <= ||A||_F^2 / ell   for any unit x

B^T B approximates the Gram/covariance structure of a 10^12-row embedding
matrix in O(ell * d) memory — the matrix analog of Misra-Gries (to which
it literally reduces when rows are basis vectors). Merge = insert the
other sketch's rows and re-shrink; the bound is preserved under merging
(mergeable-summaries property), so partials build per-partition and
tree-merge exactly like every other sketch in this library.

The buffer is 2*ell rows: inserts fill rows ell..2ell-1 and a shrink
(SVD + soft-threshold by the ell-th singular value) compacts back to
< ell nonzero rows, amortizing one SVD per ell inserts. ``frobsq``
accumulates the exact ||A||_F^2 so the error bound is self-reported.
"""

from __future__ import annotations

from typing import Any

import numpy as np

from ip_filter_spark.sketches.base import Sketch


class FrequentDirections(Sketch):
    NAME = "fd"

    def __init__(self, ell: int = 16, dim: int = 64):
        assert ell >= 2 and dim >= 1
        self.ell = int(ell)
        self.dim = int(dim)
        self.b = np.zeros((2 * self.ell, self.dim), dtype=np.float64)
        self.nbuf = 0  # rows of b currently occupied
        self.frobsq = 0.0  # exact running ||A||_F^2
        self.n_items = 0

    # ---- serialization ----------------------------------------------------
    def _params(self) -> dict[str, Any]:
        return {"ell": self.ell, "dim": self.dim}

    def _arrays(self) -> dict[str, np.ndarray]:
        return {
            "b": self.b,
            "meta": np.array([float(self.nbuf), self.frobsq], dtype=np.float64),
        }

    @classmethod
    def _from_state(cls, params: dict, arrays: dict[str, np.ndarray]) -> "FrequentDirections":
        obj = cls(**params)
        obj.b = arrays["b"].astype(np.float64, copy=True)
        obj.nbuf = int(arrays["meta"][0])
        obj.frobsq = float(arrays["meta"][1])
        return obj

    # ---- updates ----------------------------------------------------------
    def _shrink(self) -> None:
        # economy SVD of the (2ell x d) buffer; soft-threshold by the
        # ell-th singular value squared -> at most ell-1 nonzero rows left
        _, s, vt = np.linalg.svd(self.b[: self.nbuf], full_matrices=False)
        k = min(self.ell, len(s))
        delta = s[k - 1] ** 2 if len(s) >= k else 0.0
        s2 = np.sqrt(np.maximum(s**2 - delta, 0.0))
        nz = int(np.count_nonzero(s2))
        self.b[:] = 0.0
        if nz:
            self.b[:nz] = s2[:nz, None] * vt[:nz]
        self.nbuf = nz

    def update_vectors(self, x: np.ndarray) -> "FrequentDirections":
        """Ingest a (n, dim) float batch of rows."""
        x = np.asarray(x, dtype=np.float64)
        if x.ndim == 1:
            x = x[None, :]
        assert x.shape[1] == self.dim, f"dim mismatch: {x.shape[1]} != {self.dim}"
        self.frobsq += float(np.einsum("ij,ij->", x, x))
        self.n_items += x.shape[0]
        i = 0
        cap = self.b.shape[0]
        while i < x.shape[0]:
            take = min(cap - self.nbuf, x.shape[0] - i)
            self.b[self.nbuf : self.nbuf + take] = x[i : i + take]
            self.nbuf += take
            i += take
            if self.nbuf >= cap:
                self._shrink()
        return self

    def update_hashes(self, h64: np.ndarray) -> "FrequentDirections":
        raise TypeError("FrequentDirections consumes vector rows, not key hashes")

    # ---- merge ------------------------------------------------------------
    def merge(self, other: "FrequentDirections") -> "FrequentDirections":
        self._check_merge(other, "ell", "dim")
        rows = other.b[: other.nbuf]
        # other's rows carry sqrt-weights already; inserting them row-wise
        # is exactly the mergeable-summaries FD merge
        n_before = self.n_items
        frob_before = self.frobsq
        if len(rows):
            self.update_vectors(rows)
        # rows of B are sketch state, not stream items: restore true stats
        self.n_items = n_before + other.n_items
        self.frobsq = frob_before + other.frobsq
        return self

    # ---- estimates --------------------------------------------------------
    def error_bound(self) -> float:
        """Spectral-norm bound on A^T A - B^T B (holds through merges)."""
        return self.frobsq / self.ell

    def gram_diag(self) -> np.ndarray:
        """diag(B^T B): per-coordinate energy estimate."""
        return np.einsum("ij,ij->j", self.b[: self.nbuf], self.b[: self.nbuf])

    def gram(self) -> np.ndarray:
        bb = self.b[: self.nbuf]
        return bb.T @ bb

    def trace(self) -> float:
        return float(np.einsum("ij,ij->", self.b[: self.nbuf], self.b[: self.nbuf]))

    def estimate(self) -> float:
        return self.trace()
