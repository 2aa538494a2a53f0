"""Cuckoo filter — set membership with deletion (Fan, Andersen,
Kaminsky, Mitzenmacher: "Cuckoo Filter: Practically Better Than Bloom",
CoNEXT 2014).

Partial-key cuckoo hashing: each key stores an ``fp_bits``-bit
fingerprint in one of two candidate buckets,

    i1 = h64 mod nb
    i2 = i1 XOR H(fp)           (involutive — either index recovers the other)

so membership is two bucket reads, deletion removes one stored copy of
the fingerprint (multiset semantics, like the counting Bloom filter:
only keys actually inserted may be deleted), and the false-positive
bound is ``2·bucket_size / 2^fp_bits`` — for the same target FPR a
cuckoo filter beats Bloom's ln2-factor space at fpp below ~1%, and
unlike a Bloom bitarray it supports deletion without counters.

Batch discipline: ``update_hashes`` places a whole uint64 batch with two
vectorized passes (grouped rank-within-bucket scatter into the i1 then
i2 buckets — numpy argsort/bincount, no per-key work) and only the
residue that needs displacement walks the sequential kick loop
(deterministic eviction slot = kick_count mod bucket_size, so builds are
reproducible). Keys that exhaust ``max_kicks`` go to an exact overflow
list — membership stays one-sided (NO false negatives, ever) even past
the fill ceiling, degrading space instead of correctness.

Merge re-inserts the other filter's occupied (bucket, fingerprint) pairs
in deterministic slot order — sound because a stored pair determines its
owner's candidate set {i, i XOR H(fp)}. The merged filter answers
membership identically on every inserted key (the zero-false-negative
guarantee is closed under merge); byte-identity with a bulk build is NOT
guaranteed (cuckoo tables are placement-history-dependent), which is the
documented contrast with the linear sketches (Bloom/CBF/CMS) whose
merges are bitwise.

Reference parity note: the reference's membership structures are Bloom
only (/root/reference/prototype/bloomfilter.py); the cuckoo filter
completes the membership family with the deletion + low-FPR regime.
"""

from __future__ import annotations

from math import ceil, log2
from typing import Any

import numpy as np

from ip_filter_spark.sketches.base import Sketch
from ip_filter_spark.sketches.hashing import rehash

_FP_SALT = 7  # fingerprint hash-family member
_ALT_SALT = 11  # bucket-displacement hash-family member


class CuckooFilter(Sketch):
    NAME = "cuckoo"

    def __init__(
        self,
        n: int = 10_000,
        bucket_size: int = 4,
        fp_bits: int = 16,
        max_kicks: int = 500,
        load: float = 0.84,
        _table: np.ndarray | None = None,
        _overflow: np.ndarray | None = None,
    ):
        assert 1 <= fp_bits <= 30 and bucket_size >= 1
        self.n = int(n)
        self.b = int(bucket_size)
        self.f = int(fp_bits)
        self.max_kicks = int(max_kicks)
        self.load = float(load)
        self.nb = 1 << max(1, ceil(log2(max(1.0, self.n / (self.b * self.load)))))
        self.n_items = 0
        self.table = (
            _table if _table is not None else np.zeros((self.nb, self.b), dtype=np.int64)
        )
        # exact spill for keys that exhausted max_kicks: packed (i << f) | fp
        self.overflow = (
            _overflow if _overflow is not None else np.zeros(0, dtype=np.int64)
        )

    # ---- hashing ---------------------------------------------------------
    def _fp(self, h64: np.ndarray) -> np.ndarray:
        fp = (rehash(h64, _FP_SALT) & np.uint64((1 << self.f) - 1)).astype(np.int64)
        return np.where(fp == 0, 1, fp)  # 0 marks an empty slot

    def _i1(self, h64: np.ndarray) -> np.ndarray:
        return (h64 & np.uint64(self.nb - 1)).astype(np.int64)

    def _alt(self, i: np.ndarray, fp: np.ndarray) -> np.ndarray:
        disp = rehash(fp.astype(np.uint64), _ALT_SALT) & np.uint64(self.nb - 1)
        return (i ^ disp.astype(np.int64)).astype(np.int64)

    # ---- vectorized bulk placement ----------------------------------------
    def _bulk_place(self, idx: np.ndarray, fp: np.ndarray) -> np.ndarray:
        """Scatter fingerprints into empty slots of their target buckets;
        returns a boolean mask of the placed entries. Vectorized: one
        argsort groups same-bucket entries, rank-within-group + current
        occupancy selects each entry's slot."""
        if len(idx) == 0:
            return np.zeros(0, dtype=bool)
        empty_mask = self.table == 0
        free = empty_mask.sum(axis=1)
        # per-row column order with EMPTY slots first: deletions leave
        # holes mid-row, so "first free slot" is NOT the occupancy count —
        # writing at occ+rank would overwrite live fingerprints after a
        # delete (a false-negative factory)
        eorder = np.argsort(~empty_mask, axis=1, kind="stable")
        order = np.argsort(idx, kind="stable")
        si, sf = idx[order], fp[order]
        first = np.concatenate(([True], si[1:] != si[:-1]))
        group_start = np.nonzero(first)[0]
        rank = np.arange(len(si)) - np.repeat(group_start, np.diff(np.append(group_start, len(si))))
        fits = rank < free[si]
        self.table[si[fits], eorder[si[fits], rank[fits]]] = sf[fits]
        placed = np.zeros(len(idx), dtype=bool)
        placed[order[fits]] = True
        return placed

    def _kick_insert(self, i: int, fp: int) -> np.int64 | None:
        """Sequential displacement path for one (bucket, fingerprint).
        Returns the packed overflow entry instead of placing it when the
        kicks exhaust — callers batch those into ONE overflow append
        (``np.append`` per key is quadratic under heavy-duplicate input)."""
        cur_i, cur_fp = int(i), int(fp)
        for kick in range(self.max_kicks):
            row = self.table[cur_i]
            empty = np.nonzero(row == 0)[0]
            if len(empty):
                row[empty[0]] = cur_fp
                return None
            if (row == cur_fp).all():
                # bucket is wall-to-wall this fingerprint: every kick swaps
                # the key with an identical copy and the involutive alt just
                # ping-pongs between its two buckets — spill immediately
                # (the >2b-th copy of one key can never be tabled)
                break
            victim = kick % self.b  # deterministic eviction
            cur_fp, row[victim] = int(row[victim]), cur_fp
            cur_i = int(self._alt(np.array([cur_i]), np.array([cur_fp]))[0])
        return np.int64((cur_i << self.f) | cur_fp)

    def _kick_all(self, idx, fps) -> None:
        spilled = [p for i, f_ in zip(idx, fps) if (p := self._kick_insert(int(i), int(f_))) is not None]
        if spilled:
            self.overflow = np.concatenate([self.overflow, np.asarray(spilled, dtype=np.int64)])

    # ---- Sketch API --------------------------------------------------------
    def update_hashes(self, h64: np.ndarray) -> "CuckooFilter":
        if len(h64) == 0:
            return self
        h64 = h64.astype(np.uint64)
        fp = self._fp(h64)
        i1 = self._i1(h64)
        placed = self._bulk_place(i1, fp)
        i2 = self._alt(i1[~placed], fp[~placed])
        fp2 = fp[~placed]
        placed2 = self._bulk_place(i2, fp2)
        self._kick_all(i2[~placed2], fp2[~placed2])
        self.n_items += len(h64)
        return self

    def contains_hashes(self, h64: np.ndarray) -> np.ndarray:
        if len(h64) == 0:
            return np.zeros(0, dtype=bool)
        h64 = h64.astype(np.uint64)
        fp = self._fp(h64)
        i1 = self._i1(h64)
        i2 = self._alt(i1, fp)
        hit = (self.table[i1] == fp[:, None]).any(axis=1) | (
            self.table[i2] == fp[:, None]
        ).any(axis=1)
        if len(self.overflow):
            hit |= np.isin((i1 << self.f) | fp, self.overflow) | np.isin(
                (i2 << self.f) | fp, self.overflow
            )
        return hit

    def delete_hashes(self, h64: np.ndarray) -> "CuckooFilter":
        """Remove ONE stored copy per key. Like CBF subtraction, only keys
        that were actually inserted may be deleted; deleting a never-
        inserted key raises (its fingerprint has no copy to remove)."""
        h64 = np.asarray(h64, dtype=np.uint64)
        fp = self._fp(h64)
        i1 = self._i1(h64)
        i2 = self._alt(i1, fp)
        for k in range(len(h64)):
            done = False
            for i in (int(i1[k]), int(i2[k])):
                slots = np.nonzero(self.table[i] == fp[k])[0]
                if len(slots):
                    self.table[i, slots[0]] = 0
                    done = True
                    break
            if not done and len(self.overflow):
                for packed in ((int(i1[k]) << self.f) | int(fp[k]), (int(i2[k]) << self.f) | int(fp[k])):
                    pos = np.nonzero(self.overflow == packed)[0]
                    if len(pos):
                        self.overflow = np.delete(self.overflow, pos[0])
                        done = True
                        break
            if not done:
                raise ValueError("cuckoo delete of a key that was never inserted")
            self.n_items -= 1
        return self

    def merge(self, other: "CuckooFilter") -> "CuckooFilter":
        self._check_merge(other, "nb", "b", "f")
        rows, cols = np.nonzero(other.table)
        fps = other.table[rows, cols]
        placed = self._bulk_place(rows.astype(np.int64), fps)
        self._kick_all(rows[~placed], fps[~placed])
        mask = (1 << self.f) - 1
        self._kick_all([int(p) >> self.f for p in other.overflow], [int(p) & mask for p in other.overflow])
        self.n_items += other.n_items
        return self

    def fpr_bound(self) -> float:
        """Upper bound on the false-positive probability: 2 buckets ×
        bucket_size fingerprint comparisons against a uniform f-bit tag."""
        return 2.0 * self.b / float(1 << self.f)

    # ---- serialization -----------------------------------------------------
    def _params(self) -> dict[str, Any]:
        return {
            "n": self.n,
            "bucket_size": self.b,
            "fp_bits": self.f,
            "max_kicks": self.max_kicks,
            "load": self.load,
        }

    def _arrays(self) -> dict[str, np.ndarray]:
        return {"table": self.table, "overflow": self.overflow}

    @classmethod
    def _from_state(cls, params: dict, arrays: dict[str, np.ndarray]) -> "CuckooFilter":
        return cls(
            **params,
            _table=arrays["table"].reshape(-1, int(params["bucket_size"])).copy(),
            _overflow=arrays["overflow"].copy(),
        )
