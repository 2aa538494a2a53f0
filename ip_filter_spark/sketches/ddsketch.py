"""DDSketch — relative-error quantiles (Masson, Rim & Lee, VLDB 2019).

Logarithmic bucketing: for relative accuracy ``alpha`` let
``gamma = (1 + alpha) / (1 - alpha)``; a positive value x lands in
bucket ``ceil(log_gamma(x))`` and is reported back as the bucket
midpoint ``2 * gamma^i / (gamma + 1)``, which is within a factor
``(1 ± alpha)`` of every value in the bucket. Unlike KLL/t-digest the
guarantee is DETERMINISTIC (no coin, no probabilistic bound): any
q-quantile estimate is relatively within ``alpha`` of an actual
q-quantile element — as long as no bucket collapse has occurred.

Three stores, as published: positive buckets, negative buckets (mirror
of magnitudes), and a zero counter for ``|x| <= min_indexable`` (tiny
magnitudes can't meet a relative bound with finitely many buckets; they
are reported as 0.0 and flagged via ``collapsed``-style accounting only
if true zeros weren't what landed there — we simply document that the
relative bound excludes the zero bucket).

Collapse policy (bounded memory): when the positive/negative store
exceeds ``max_bins`` indices, the LOWEST buckets merge into the lowest
kept one (preserving high-quantile accuracy, the published default) and
``collapsed`` flips — estimates for ranks inside collapsed buckets lose
the guarantee and callers can check the flag.

Merge is exact bucket-count addition (a linear sketch), so per-partition
partials built by the engine merge associatively/commutatively to the
same counts as a single-pass build — byte-identical, unlike KLL.

Reference analog: extends the north rule's quantile family (KLL rank
error, t-digest rank error) with the VALUE-relative error regime the
paper argues is what latency-style heavy-tailed metrics need.
"""

from __future__ import annotations

import math
from typing import Any

import numpy as np

from ip_filter_spark.sketches.base import Sketch


class DDSketch(Sketch):
    NAME = "ddsketch"

    def __init__(
        self,
        alpha: float = 0.01,
        max_bins: int = 2048,
        _pos: dict[int, int] | None = None,
        _neg: dict[int, int] | None = None,
        _zero: int = 0,
        _collapsed: bool = False,
    ):
        self.alpha = float(alpha)
        self.max_bins = int(max_bins)
        self.gamma = (1.0 + self.alpha) / (1.0 - self.alpha)
        self._log_gamma = math.log(self.gamma)
        # smallest magnitude with a finite bucket index (~1e-280 at
        # alpha=0.01): below it, log_gamma underflows int64 range
        self.min_indexable = math.exp(-(2 ** 30) * self._log_gamma)
        self.pos: dict[int, int] = _pos if _pos is not None else {}
        self.neg: dict[int, int] = _neg if _neg is not None else {}
        self.zero = int(_zero)
        self.collapsed = bool(_collapsed)
        self.n_items = 0

    # ---- build ------------------------------------------------------------
    def _indices(self, mags: np.ndarray) -> np.ndarray:
        return np.ceil(np.log(mags) / self._log_gamma).astype(np.int64)

    def _add_to(self, store: dict[int, int], idx: np.ndarray, cnt: np.ndarray) -> None:
        for i, c in zip(idx.tolist(), cnt.tolist()):
            store[i] = store.get(i, 0) + c
        self._collapse(store)

    def _collapse(self, store: dict[int, int]) -> None:
        while len(store) > self.max_bins:
            keys = sorted(store)
            lo0, lo1 = keys[0], keys[1]
            store[lo1] += store.pop(lo0)
            self.collapsed = True

    def update_values(self, values: np.ndarray) -> "DDSketch":
        values = np.asarray(values, dtype=np.float64)
        values = values[~np.isnan(values)]
        if len(values) == 0:
            return self
        self.n_items += len(values)
        self.zero += int((np.abs(values) <= self.min_indexable).sum())
        for sign, store in ((1, self.pos), (-1, self.neg)):
            mags = values * sign
            sel = mags[mags > self.min_indexable]
            if len(sel):
                idx, cnt = np.unique(self._indices(sel), return_counts=True)
                self._add_to(store, idx, cnt)
        return self

    def update_hashes(self, h64: np.ndarray) -> "DDSketch":
        return self.update_values(h64.astype(np.float64))

    def merge(self, other: "DDSketch") -> "DDSketch":
        self._check_merge(other, "alpha")
        for mine, theirs in ((self.pos, other.pos), (self.neg, other.neg)):
            for i, c in theirs.items():
                mine[i] = mine.get(i, 0) + c
            self._collapse(mine)
        self.zero += other.zero
        self.n_items += other.n_items
        self.collapsed |= other.collapsed
        return self

    # ---- query ------------------------------------------------------------
    def _bucket_value(self, index: int, sign: int) -> float:
        return sign * 2.0 * self.gamma**index / (self.gamma + 1.0)

    def quantile(self, q) -> np.ndarray:
        """Value estimates at normalized ranks ``floor((n-1) * q)``
        (0-based) — the same fencepost convention as the repo's exact
        quantile operator, so est vs exact comparisons are rank-aligned."""
        qs = np.atleast_1d(np.asarray(q, dtype=np.float64))
        n = self.zero + sum(self.pos.values()) + sum(self.neg.values())
        if n == 0:
            return np.full(len(qs), np.nan)
        # global ascending numeric order: negatives first (most negative
        # = largest magnitude = largest index, so neg indices descend),
        # then the zero bucket, then positives with indices ascending.
        ladder: list[tuple[int, float]] = []
        for i in sorted(self.neg, reverse=True):
            ladder.append((self.neg[i], self._bucket_value(i, -1)))
        if self.zero:
            ladder.append((self.zero, 0.0))
        for i in sorted(self.pos):
            ladder.append((self.pos[i], self._bucket_value(i, 1)))
        counts = np.array([c for c, _ in ladder], dtype=np.int64)
        vals = np.array([v for _, v in ladder], dtype=np.float64)
        cum = np.cumsum(counts)
        targets = np.floor((n - 1) * qs).astype(np.int64)  # 0-based ranks
        pos = np.searchsorted(cum, targets, side="right")
        return vals[pos]

    # ---- serialization ----------------------------------------------------
    def _params(self) -> dict[str, Any]:
        return {
            "alpha": self.alpha,
            "max_bins": self.max_bins,
            "_zero": self.zero,
            "_collapsed": self.collapsed,
        }

    def _arrays(self) -> dict[str, np.ndarray]:
        return {
            "pos_idx": np.array(sorted(self.pos), dtype=np.int64),
            "pos_cnt": np.array([self.pos[i] for i in sorted(self.pos)], dtype=np.int64),
            "neg_idx": np.array(sorted(self.neg), dtype=np.int64),
            "neg_cnt": np.array([self.neg[i] for i in sorted(self.neg)], dtype=np.int64),
        }

    @classmethod
    def _from_state(cls, params: dict, arrays: dict[str, np.ndarray]) -> "DDSketch":
        pos = dict(zip(arrays["pos_idx"].tolist(), arrays["pos_cnt"].tolist()))
        neg = dict(zip(arrays["neg_idx"].tolist(), arrays["neg_cnt"].tolist()))
        return cls(
            alpha=params["alpha"],
            max_bins=params["max_bins"],
            _pos=pos,
            _neg=neg,
            _zero=params.get("_zero", 0),
            _collapsed=params.get("_collapsed", False),
        )
