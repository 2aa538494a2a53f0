"""Misra–Gries heavy-hitter summary — the deterministic, mergeable
frequent-items sketch (Misra & Gries 1982; mergeability per Agarwal,
Cormode, Huang, Phillips, Wei, Yi, "Mergeable Summaries", PODS'12).

Complements the count-min path (`operators/topk.py::cms_topk`) in the
north-rule sketch family: CMS never undercounts but needs a candidate
set; MG is self-contained — it carries its own keys — and never
OVERcounts, with a deterministic undercount bound:

    est(x) <= true(x) <= est(x) + err,   err <= n / (capacity + 1)

``err`` is tracked exactly through every batch update and merge, so the
bound columns a query emits (``est <= true <= est + err``) are provable
by construction, not probabilistic — the property the driver's DuckDB
oracle gate needs.

Batch update is "merge with the batch's exact counts": an exact count
table is an MG summary with zero error, and MG merge (add counters,
then subtract the (capacity+1)-th largest count and drop non-positive)
preserves the bound additively. All counter math is numpy over the
(keys, counts) arrays; keys serialize as a fixed-width numpy bytes
array inside the standard framed blob.

Unlike the hash sketches this summary stores raw keys (bounded by
capacity), so it plugs into the engine via its own column builder
(`operators/topk.py::mg_heavy_hitters`) rather than the sha256-digest
pipeline — heavy-hitter answers must name the item, not its hash.
"""

from __future__ import annotations

import numpy as np

from ip_filter_spark.sketches.base import Sketch


class MisraGries(Sketch):
    NAME = "mg"

    def __init__(self, capacity: int = 64):
        assert capacity >= 1
        self.capacity = int(capacity)
        self.keys = np.zeros(0, dtype="S1")
        self.counts = np.zeros(0, dtype=np.int64)
        self.err = 0  # max possible undercount of any key's estimate
        self.n_items = 0

    # ------------------------------------------------------------- lifecycle
    def _params(self) -> dict:
        return {"capacity": self.capacity}

    def _arrays(self) -> dict[str, np.ndarray]:
        return {
            "keys": self.keys,
            "counts": self.counts,
            "err": np.array([self.err], dtype=np.int64),
        }

    @classmethod
    def _from_state(cls, params: dict, arrays: dict[str, np.ndarray]) -> "MisraGries":
        sk = cls(capacity=int(params["capacity"]))
        sk.keys = arrays["keys"]
        sk.counts = arrays["counts"].astype(np.int64)
        sk.err = int(arrays["err"][0])
        return sk

    # --------------------------------------------------------------- updates
    def update_keys(self, keys) -> "MisraGries":
        """Ingest a batch of keys (array-like of str/bytes)."""
        arr = np.asarray(
            [k if isinstance(k, bytes) else str(k).encode("utf-8") for k in keys], dtype=bytes
        )
        if len(arr) == 0:
            return self
        uniq, cnt = np.unique(arr, return_counts=True)
        self.n_items += int(len(arr))
        self._combine(uniq, cnt.astype(np.int64), 0)
        return self

    def merge(self, other: "MisraGries") -> "MisraGries":
        self._check_merge(other, "capacity")
        self.n_items += other.n_items
        self._combine(other.keys, other.counts, other.err)
        return self

    def _combine(self, keys: np.ndarray, counts: np.ndarray, err: int) -> None:
        """Counter-wise sum, then the MG reduction back to ``capacity``
        counters: subtract the (capacity+1)-th largest count from all and
        drop non-positive. The subtracted amount adds to ``err``."""
        a = self.keys if len(self.keys) else np.zeros(0, dtype="S1")
        b = keys if len(keys) else np.zeros(0, dtype="S1")
        width = max(a.dtype.itemsize, b.dtype.itemsize, 1)
        dt = f"S{width}"
        all_keys = np.concatenate([a.astype(dt), b.astype(dt)])
        all_counts = np.concatenate([self.counts, counts.astype(np.int64)])
        uniq, inv = np.unique(all_keys, return_inverse=True)
        summed = np.zeros(len(uniq), dtype=np.int64)
        np.add.at(summed, inv, all_counts)
        self.err += int(err)
        if len(uniq) > self.capacity:
            # deterministic reduction: d = (capacity+1)-th largest count
            d = int(np.partition(summed, -(self.capacity + 1))[-(self.capacity + 1)])
            summed = summed - d
            keep = summed > 0
            # ties at the boundary can leave > capacity survivors only if
            # counts tie at d; those became 0 and are dropped, so the
            # survivor count is <= capacity by construction
            uniq, summed = uniq[keep], summed[keep]
            self.err += d
        order = np.argsort(uniq)  # canonical order → byte-stable blobs
        self.keys = uniq[order]
        self.counts = summed[order]

    # ---------------------------------------------------------------- output
    def items(self) -> list[tuple[str, int, int]]:
        """(key, est, est + err) sorted by est desc then key — est never
        exceeds the true count; est + err never undershoots it."""
        rows = [
            (self.keys[i].decode("utf-8"), int(self.counts[i]), int(self.counts[i]) + self.err)
            for i in range(len(self.keys))
        ]
        return sorted(rows, key=lambda t: (-t[1], t[0]))

    def topk(self, k: int) -> list[tuple[str, int, int]]:
        return self.items()[:k]

    def estimate(self) -> int:
        return int(len(self.keys))
