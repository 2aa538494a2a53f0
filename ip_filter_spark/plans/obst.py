"""Optimal binary search tree over the distinct prefix-depth domain.

The guide tree that turns O(L) linear probing into O(log L) guided
probing — the reference's central cost-based optimization
(/root/reference/data/obst.py:49-110, Knuth's classic O(n^3) DP;
weighting rationale doc/tex/report.tex:437-451). Our implementation is
the textbook success-probability-only optimal-BST DP (CLRS §15.5 shape),
array-encoded for vectorized level-synchronous descent: nodes are
parallel numpy arrays (val/left/right), so the probe kernel can gather
``val[cur]`` for a whole Arrow batch at once.

Weighting schemes mirror the reference's three lambdas: 'equal'
(balanced tree), 'by_count' (frequency of keys per depth), or explicit
weights.
"""

from __future__ import annotations

import numpy as np


class GuideTree:
    def __init__(self, val: np.ndarray, left: np.ndarray, right: np.ndarray, root: int):
        self.val = np.asarray(val, dtype=np.int64)
        self.left = np.asarray(left, dtype=np.int64)
        self.right = np.asarray(right, dtype=np.int64)
        self.root = int(root)

    # ------------------------------------------------------------- builders
    @classmethod
    def from_weights(cls, keys: list[int], weights: list[float]) -> "GuideTree":
        """Optimal BST (success probabilities only) via the classic DP.

        e[i][j] = min cost of subtree over keys[i:j]; r[i][j] = its root.
        O(n^3) with n = number of distinct depths (<= ~100) — driver-side.
        """
        keys = list(keys)
        n = len(keys)
        assert n > 0 and keys == sorted(keys)
        p = np.asarray(weights, dtype=np.float64)
        assert len(p) == n and (p >= 0).all()
        if p.sum() == 0:
            p = np.ones(n)
        p = p / p.sum()

        # prefix sums for w[i][j] = sum p[i:j]
        pre = np.concatenate([[0.0], np.cumsum(p)])
        e = np.zeros((n + 1, n + 1))
        r = np.full((n + 1, n + 1), -1, dtype=np.int64)
        for i in range(n):
            e[i][i + 1] = p[i]
            r[i][i + 1] = i
        for length in range(2, n + 1):
            for i in range(0, n - length + 1):
                j = i + length
                w = pre[j] - pre[i]
                best, best_m = np.inf, -1
                for m in range(i, j):
                    cost = e[i][m] + e[m + 1][j] + w
                    if cost < best:
                        best, best_m = cost, m
                e[i][j] = best
                r[i][j] = best_m

        val = np.zeros(n, dtype=np.int64)
        left = np.full(n, -1, dtype=np.int64)
        right = np.full(n, -1, dtype=np.int64)
        counter = [0]

        def build(i: int, j: int) -> int:
            if i >= j:
                return -1
            m = int(r[i][j])
            ix = counter[0]
            counter[0] += 1
            val[ix] = keys[m]
            left[ix] = build(i, m)
            right[ix] = build(m + 1, j)
            return ix

        root = build(0, n)
        return cls(val, left, right, root)

    @classmethod
    def balanced(cls, keys: list[int]) -> "GuideTree":
        return cls.from_weights(keys, [1.0] * len(keys))

    # ------------------------------------------------------------- queries
    def height(self) -> int:
        def h(ix: int) -> int:
            if ix < 0:
                return 0
            return 1 + max(h(int(self.left[ix])), h(int(self.right[ix])))

        return h(self.root)

    def walk(self, target: int) -> list[tuple[int, str]]:
        """Search path for ``target``: [(node_val, 'L'|'R'|'EQ'), ...].

        'R' marks a right turn (target > node val) — where the guided build
        plants a marker + pointer bits; 'EQ' ends the walk (full insert)."""
        out = []
        cur = self.root
        while cur >= 0:
            v = int(self.val[cur])
            if target < v:
                out.append((v, "L"))
                cur = int(self.left[cur])
            elif target == v:
                out.append((v, "EQ"))
                return out
            else:
                out.append((v, "R"))
                cur = int(self.right[cur])
        return out
