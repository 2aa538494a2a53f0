"""Sketch base class + self-describing binary serialization.

A sketch is a plain numpy-backed value with a uniform lifecycle:

    s = SomeSketch(**params)
    s.update_hashes(h64)        # (n,) uint64 batch — vectorized
    s.merge(other)              # commutative + associative
    blob = s.to_bytes()         # BinaryType payload for the sketch-row DF
    s2 = from_bytes(blob)
    s2.estimate()/probe(...)

Serialization is a framed format: magic, JSON header (class name, params,
n_items, array dtypes/shapes), then raw little-endian array buffers. No
pickle — blobs are stable across Python versions and safe to checkpoint.
"""

from __future__ import annotations

import json
import struct
from typing import Any

import numpy as np

MAGIC = b"IFSK1\x00"


class Sketch:
    """Base class. Subclasses define NAME, _params(), _arrays(),
    _from_state(), update_hashes(), merge(), and an estimate/probe API."""

    NAME = "sketch"

    n_items: int

    # ---- abstract-ish API -------------------------------------------------
    def _params(self) -> dict[str, Any]:
        raise NotImplementedError

    def _arrays(self) -> dict[str, np.ndarray]:
        raise NotImplementedError

    @classmethod
    def _from_state(cls, params: dict, arrays: dict[str, np.ndarray]) -> "Sketch":
        raise NotImplementedError

    def update_hashes(self, h64: np.ndarray) -> "Sketch":
        """Ingest a batch of 64-bit key hashes (uint64)."""
        raise NotImplementedError

    def merge(self, other: "Sketch") -> "Sketch":
        raise NotImplementedError

    # ---- shared -----------------------------------------------------------
    def _check_merge(self, other: "Sketch", *params: str) -> None:
        """Raise ``ValueError`` unless ``other`` is a sketch of this class
        with equal ``params`` attributes. An explicit raise, not an
        ``assert``: ``python -O`` must not turn a bad merge into garbage."""
        same = type(other) is type(self)
        bad = [p for p in params if getattr(other, p, None) != getattr(self, p)]
        if same and not bad:
            return

        def desc(s) -> str:
            return f"{type(s).__name__}({', '.join(f'{p}={getattr(s, p, None)!r}' for p in params)})"

        why = f"different {', '.join(bad)}" if same else "different classes"
        raise ValueError(f"cannot merge {desc(other)} into {desc(self)}: {why}")

    def to_bytes(self) -> bytes:
        arrays = self._arrays()
        header = {
            "cls": type(self).NAME,
            "params": self._params(),
            "n_items": int(self.n_items),
            "arrays": [
                {"key": k, "dtype": str(a.dtype), "shape": list(a.shape)}
                for k, a in arrays.items()
            ],
        }
        hjson = json.dumps(header, separators=(",", ":")).encode("utf-8")
        parts = [MAGIC, struct.pack("<I", len(hjson)), hjson]
        for _, a in arrays.items():
            parts.append(np.ascontiguousarray(a).tobytes())
        return b"".join(parts)

    @staticmethod
    def parse(blob: bytes) -> tuple[str, dict, int, dict[str, np.ndarray]]:
        if blob[: len(MAGIC)] != MAGIC:
            raise ValueError("bad sketch blob magic")
        off = len(MAGIC)
        (hlen,) = struct.unpack_from("<I", blob, off)
        off += 4
        header = json.loads(blob[off : off + hlen].decode("utf-8"))
        off += hlen
        arrays: dict[str, np.ndarray] = {}
        for spec in header["arrays"]:
            dt = np.dtype(spec["dtype"])
            count = int(np.prod(spec["shape"])) if spec["shape"] else 1
            nbytes = dt.itemsize * count
            a = np.frombuffer(blob[off : off + nbytes], dtype=dt).reshape(spec["shape"])
            arrays[spec["key"]] = a.copy()  # writable
            off += nbytes
        return header["cls"], header["params"], header["n_items"], arrays

    def params_json(self) -> str:
        return json.dumps(self._params(), sort_keys=True, separators=(",", ":"))
