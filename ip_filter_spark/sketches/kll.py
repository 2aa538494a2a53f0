"""KLL quantile sketch (Karnin–Lang–Liberty, FOCS 2016).

Simplified but faithful construction: a ladder of compactors; level i
items carry weight 2^i; when a level overflows its capacity we sort it
and keep alternating items (random offset), pushing survivors up one
level. Rank queries sum weights of items <= x. Normalized rank error is
O(1/k); we test against the practical bound ~2.3/k hitting well inside
published constants with k=200 default (<1.5% rank error).

Determinism: the compaction coin uses a counter-seeded RNG so a sketch
built from the same stream is reproducible; merge associativity holds at
the *estimate* level (rank error bound), not byte level — as published.
"""

from __future__ import annotations

from typing import Any

import numpy as np

from ip_filter_spark.sketches.base import Sketch


class KLLSketch(Sketch):
    NAME = "kll"

    def __init__(self, k: int = 200, seed: int = 7, _levels: list[np.ndarray] | None = None):
        self.k = int(k)
        self.seed = int(seed)
        self.n_items = 0
        self.levels: list[np.ndarray] = _levels if _levels is not None else [np.empty(0, dtype=np.float64)]
        self._coin = 0

    # capacity of level i (geometric decay, floor 2): c * (2/3)^(H-i) * k
    def _capacity(self, level: int, height: int) -> int:
        cap = int(np.ceil(self.k * (2.0 / 3.0) ** (height - 1 - level)))
        return max(cap, 2)

    def update_values(self, values: np.ndarray) -> "KLLSketch":
        values = np.asarray(values, dtype=np.float64)
        values = values[~np.isnan(values)]
        if len(values) == 0:
            return self
        self.levels[0] = np.concatenate([self.levels[0], values])
        self.n_items += len(values)
        self._compress()
        return self

    # sketches over hashes don't make sense for quantiles; engine feeds values
    def update_hashes(self, h64: np.ndarray) -> "KLLSketch":
        return self.update_values(h64.astype(np.float64))

    def _compress(self) -> None:
        while True:
            height = len(self.levels)
            for i in range(height):
                if len(self.levels[i]) > self._capacity(i, height):
                    self._compact(i)
                    break
            else:
                return

    def _compact(self, i: int) -> None:
        buf = np.sort(self.levels[i])
        rng = np.random.default_rng(self.seed + 0x9E3779B9 * (self._coin + 1))
        self._coin += 1
        off = int(rng.integers(0, 2))
        survivors = buf[off::2]
        self.levels[i] = np.empty(0, dtype=np.float64)
        if i + 1 == len(self.levels):
            self.levels.append(np.empty(0, dtype=np.float64))
        self.levels[i + 1] = np.concatenate([self.levels[i + 1], survivors])

    def merge(self, other: "KLLSketch") -> "KLLSketch":
        self._check_merge(other, "k")
        while len(self.levels) < len(other.levels):
            self.levels.append(np.empty(0, dtype=np.float64))
        for i, lv in enumerate(other.levels):
            if len(lv):
                self.levels[i] = np.concatenate([self.levels[i], lv])
        self.n_items += other.n_items
        self._coin += other._coin + 1
        self._compress()
        return self

    # ---- queries --------------------------------------------------------
    def _weighted(self) -> tuple[np.ndarray, np.ndarray]:
        vals, wts = [], []
        for i, lv in enumerate(self.levels):
            if len(lv):
                vals.append(lv)
                wts.append(np.full(len(lv), 1 << i, dtype=np.int64))
        if not vals:
            return np.empty(0), np.empty(0, dtype=np.int64)
        v = np.concatenate(vals)
        w = np.concatenate(wts)
        order = np.argsort(v, kind="stable")
        return v[order], w[order]

    def rank(self, x: float) -> float:
        """Normalized rank of x in [0, 1]."""
        v, w = self._weighted()
        if len(v) == 0:
            return 0.0
        total = w.sum()
        return float(w[v <= x].sum()) / float(total)

    def quantile(self, q) -> np.ndarray:
        """Value(s) at normalized rank(s) q."""
        qs = np.atleast_1d(np.asarray(q, dtype=np.float64))
        v, w = self._weighted()
        if len(v) == 0:
            return np.full(len(qs), np.nan)
        cum = np.cumsum(w)
        total = cum[-1]
        targets = np.clip(qs, 0.0, 1.0) * total
        ix = np.searchsorted(cum, targets, side="left")
        ix = np.clip(ix, 0, len(v) - 1)
        return v[ix]

    def rank_error_bound(self) -> float:
        """Practical normalized rank-error bound for this k."""
        return 2.3 / self.k

    def _params(self) -> dict[str, Any]:
        # _coin travels with the state: a to_bytes/from_bytes round-trip
        # must NOT reset the compaction RNG counter, or a resumed stream
        # replays coin values and same-stream reproducibility breaks
        return {"k": self.k, "seed": self.seed, "nlevels": len(self.levels), "coin": self._coin}

    def _arrays(self) -> dict[str, np.ndarray]:
        return {f"level_{i}": lv for i, lv in enumerate(self.levels)}

    @classmethod
    def _from_state(cls, params: dict, arrays: dict[str, np.ndarray]) -> "KLLSketch":
        levels = [arrays[f"level_{i}"] for i in range(params["nlevels"])]
        sk = cls(k=params["k"], seed=params["seed"], _levels=levels)
        sk._coin = int(params.get("coin", 0))
        return sk
