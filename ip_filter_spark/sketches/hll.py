"""HyperLogLog — distinct-count sketch (dense 2^p registers).

Flajolet et al. 2007 construction with the standard small-range
(linear counting) and large-range corrections. Merge = elementwise
register max (commutative, associative, idempotent — safe under task
retries). Standard error 1.04 / sqrt(2^p).

Register update is a vectorized scatter-max: the first p hash bits pick
the register, the leading-zero count of the remaining 64-p bits (+1) is
the candidate rank.
"""

from __future__ import annotations

from typing import Any

import numpy as np

from ip_filter_spark.sketches.base import Sketch


def _alpha(m: int) -> float:
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


class HyperLogLog(Sketch):
    NAME = "hll"

    def __init__(self, p: int = 14, _registers: np.ndarray | None = None):
        assert 4 <= p <= 18
        self.p = int(p)
        self.m = 1 << p
        self.n_items = 0
        self.registers = _registers if _registers is not None else np.zeros(self.m, dtype=np.uint8)

    def update_hashes(self, h64: np.ndarray) -> "HyperLogLog":
        if len(h64) == 0:
            return self
        h64 = h64.astype(np.uint64)
        reg = (h64 >> np.uint64(64 - self.p)).astype(np.int64)
        rest = (h64 << np.uint64(self.p)) | np.uint64((1 << self.p) - 1)  # pad tail with 1s
        # rank = #leading zeros of rest + 1, in [1, 64-p+1]
        # leading zeros via bit_length: lz = 64 - bit_length(rest)
        bl = np.zeros(len(rest), dtype=np.uint8)
        x = rest.copy()
        for shift in (32, 16, 8, 4, 2, 1):
            mask = x >= (np.uint64(1) << np.uint64(shift))
            bl[mask] += np.uint8(shift)
            x[mask] >>= np.uint64(shift)
        bl += (x > 0).astype(np.uint8)  # bit_length
        rank = (np.uint8(64) - bl + np.uint8(1)).astype(np.uint8)
        np.maximum.at(self.registers, reg, rank)
        self.n_items += len(h64)
        return self

    def estimate(self) -> float:
        m = float(self.m)
        regs = self.registers.astype(np.float64)
        est = _alpha(self.m) * m * m / np.power(2.0, -regs).sum()
        if est <= 2.5 * m:
            zeros = int((self.registers == 0).sum())
            if zeros > 0:
                return m * np.log(m / zeros)
        two64 = 2.0**64
        if est > two64 / 30.0:
            return -two64 * np.log(1.0 - est / two64)
        return float(est)

    def rel_error_bound(self) -> float:
        return 1.04 / np.sqrt(self.m)

    def merge(self, other: "HyperLogLog") -> "HyperLogLog":
        self._check_merge(other, "p")
        np.maximum(self.registers, other.registers, out=self.registers)
        self.n_items += other.n_items
        return self

    def _params(self) -> dict[str, Any]:
        return {"p": self.p}

    def _arrays(self) -> dict[str, np.ndarray]:
        # content-adaptive, like Bloom/CMS/CBF: a partial that saw few
        # keys has mostly-zero registers — ship (index, value) pairs when
        # smaller than the dense 2^p bytes (format is content-pure)
        nz = np.flatnonzero(self.registers)
        if len(nz) * 5 < self.m:  # uint32 index + uint8 value vs 1B/register
            return {"sparse_ix": nz.astype(np.uint32), "sparse_val": self.registers[nz]}
        return {"registers": self.registers}

    @classmethod
    def _from_state(cls, params: dict, arrays: dict[str, np.ndarray]) -> "HyperLogLog":
        if "sparse_ix" in arrays:
            regs = np.zeros(1 << params["p"], dtype=np.uint8)
            regs[arrays["sparse_ix"].astype(np.int64)] = arrays["sparse_val"]
        else:
            regs = arrays["registers"]
        return cls(p=params["p"], _registers=regs)
