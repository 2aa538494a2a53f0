"""MinHash signature sketch — set-similarity / near-dup detection support.

Holds the per-key minimum of P independent hash permutations over a
document's shingle set; the fraction of agreeing components between two
signatures is an unbiased Jaccard estimate. As a *mergeable corpus-level
sketch* the componentwise min over all documents also gives a cheap
corpus signature (used for cross-run drift checks); per-document
signatures for LSH dedup are produced by the vectorized batch helper
``signature_matrix`` (used in operators/dedup.py, stays in numpy).
"""

from __future__ import annotations

from typing import Any

import numpy as np

from ip_filter_spark.sketches.base import Sketch
from ip_filter_spark.sketches.hashing import rehash

_U64MAX = np.uint64(0xFFFFFFFFFFFFFFFF)


def signature_matrix(shingle_hashes: list[np.ndarray], num_perm: int) -> np.ndarray:
    """Per-document MinHash signatures.

    shingle_hashes: list of (s_i,) uint64 arrays (one per document).
    Returns (n_docs, num_perm) uint64. Each permutation p is the splitmix
    rehash family member p; the signature component is the min over the
    document's shingles — computed as one (s_i, num_perm) matrix per doc.
    """
    out = np.full((len(shingle_hashes), num_perm), _U64MAX, dtype=np.uint64)
    for i, sh in enumerate(shingle_hashes):
        if len(sh) == 0:
            continue
        mat = np.stack([rehash(sh, p) for p in range(num_perm)], axis=1)
        out[i] = mat.min(axis=0)
    return out


def estimate_jaccard(sig_a: np.ndarray, sig_b: np.ndarray) -> float:
    return float((sig_a == sig_b).mean())


class MinHashSignatures(Sketch):
    NAME = "minhash"

    def __init__(self, num_perm: int = 128, _mins: np.ndarray | None = None):
        self.num_perm = int(num_perm)
        self.n_items = 0
        self.mins = _mins if _mins is not None else np.full(self.num_perm, _U64MAX, dtype=np.uint64)

    def update_hashes(self, h64: np.ndarray) -> "MinHashSignatures":
        if len(h64) == 0:
            return self
        mat = np.stack([rehash(h64, p) for p in range(self.num_perm)], axis=1)
        np.minimum(self.mins, mat.min(axis=0), out=self.mins)
        self.n_items += len(h64)
        return self

    def merge(self, other: "MinHashSignatures") -> "MinHashSignatures":
        self._check_merge(other, "num_perm")
        np.minimum(self.mins, other.mins, out=self.mins)
        self.n_items += other.n_items
        return self

    def jaccard(self, other: "MinHashSignatures") -> float:
        return estimate_jaccard(self.mins, other.mins)

    def _params(self) -> dict[str, Any]:
        return {"num_perm": self.num_perm}

    def _arrays(self) -> dict[str, np.ndarray]:
        return {"mins": self.mins}

    @classmethod
    def _from_state(cls, params: dict, arrays: dict[str, np.ndarray]) -> "MinHashSignatures":
        return cls(num_perm=params["num_perm"], _mins=arrays["mins"])
