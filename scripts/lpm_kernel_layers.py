#!/usr/bin/env python
"""Where the IPv4 guided-LPM probe spends its time, layer by layer.

Stages one ``lpm_bgp`` engine (perfbench's BGP-shaped table of 250k
routes and its 1M addresses, for ``--seed``), then runs the guided probe
single-threaded over Arrow-batch-sized slices of the addresses
(``config.ARROW_BATCH`` rows), split into kernel calls the way
``PathLPM.lookup``'s workers split them, and splits every call into four
layers:

  twin      the key hashes: inside the calls of a kernel that reads them
            from a hash source (``cidr.Ip4HashSource``), or the eager
            ``cidr.ip4_depth_hashes`` matrix of a kernel that takes one
  descent   the guide-tree descent on hash 0 and the BMP-pointer decode
  confirm   the hypothesis confirm: the FIB, plus any Bloom bits the
            kernel reads for it
  scan      ``PathLPM._scan``: the fallback and the exactness interval

The layer boundaries come from wrapping what the kernel calls
(``PathLPM._probe_slots``, ``lpm._fib_member``, ``PathLPM._scan`` and the
hash source), so the same script times any checkout whose kernel keeps
those names, with either kernel signature (``kern(H)`` on a matrix or
``kern(src, n)`` on a source). Run
it from each checkout's root with one ``--stage-dir``: the first run
stages the engine and addresses there as ``.npy`` files, later runs
(other checkouts included) probe the same bytes. It prints, per layer,
the median seconds of one pass over all addresses, and the Bloom bits
gathered and FIB probes made per address.

    python scripts/lpm_kernel_layers.py --seed 31 --stage-dir /tmp/lpm31
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import inspect
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

os.environ.setdefault("OMP_NUM_THREADS", "1")

import numpy as np  # noqa: E402

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from ip_filter_spark.config import ARROW_BATCH  # noqa: E402
from ip_filter_spark.operators import cidr, lpm  # noqa: E402

LAYERS = ("twin", "descent", "confirm", "scan")
_FIB_MEMBER = lpm._fib_member


def stage(seed: int, out: Path) -> None:
    """Build the ``lpm_bgp`` engine for ``seed`` and save its blob and
    addresses under ``out``."""
    from ip_filter_spark.config import get_spark
    from perfbench.workloads import LpmBgp

    class NoTrace:
        def call(self, name):
            return contextlib.nullcontext()

    spark = get_spark(app_name="lpm_kernel_layers", master="local[4]", shuffle_partitions=4)
    work = tempfile.mkdtemp(prefix="lpm_layers_")
    try:
        w = LpmBgp(spark, work, seed, "full", 4)
        w.stage()
        w.open()
        w.build(NoTrace())
        np.save(out / f"blob_{seed}.npy", np.frombuffer(w.engine.to_bytes(), dtype=np.uint8))
        np.save(out / f"ips_{seed}.npy", w.traffic.select("ip").toPandas()["ip"].to_numpy().astype(np.int64))
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


class Layers:
    """Per-layer wall, Bloom bits and FIB probes of one pass, attributed
    by the kernel's call order. Descent runs through the first Bloom
    gather at a nonzero slot (the pointer decode) and the pointer's
    decoding, up to the next Bloom gather or FIB probe; confirm runs from
    there to ``_scan``, and scan to the kernel's return."""

    def __init__(self, eng: lpm.PathLPM):
        self.s = dict.fromkeys(LAYERS, 0.0)
        self.bits = dict.fromkeys(LAYERS, 0)
        self.fib = dict.fromkeys(LAYERS, 0)
        self.phase, self.mark, self.decoded = "descent", 0.0, False
        probe, scan = eng._probe_slots, eng._scan

        def probe_slots(h64, slots):
            if self.decoded and self.phase == "descent":
                self.switch("confirm")
            self.decoded |= bool(slots.any())
            self.bits[self.phase] += slots.size
            return probe(h64, slots)

        def fib_member(fib, h):
            if self.phase == "descent":
                self.switch("confirm")
            self.fib[self.phase] += len(h)
            return _FIB_MEMBER(fib, h)

        def scan_(*args, **kwargs):
            self.switch("scan")
            return scan(*args, **kwargs)

        eng._probe_slots, eng._scan = probe_slots, scan_
        lpm._fib_member = fib_member
        self.kern, self.depths = eng._lookup_batch_guided, eng.depths
        self.hashes = cidr.Ip4HashSource(eng.depths) if takes_source(eng) else None

    def switch(self, phase: str) -> None:
        now = time.perf_counter()
        self.s[self.phase] += now - self.mark
        self.phase, self.mark = phase, now

    def run(self, keys: np.ndarray) -> None:
        """One kernel call: hash ``keys`` (eagerly, or as the kernel
        reads them), then probe them."""
        t0 = time.perf_counter()
        if self.hashes is None:
            arg = (cidr.ip4_depth_hashes(keys, self.depths),)
        else:
            arg = (self.timed(self.hashes.bind(keys)), len(keys))
        self.phase, self.mark, self.decoded = "descent", time.perf_counter(), False
        self.s["twin"] += self.mark - t0
        self.kern(*arg)
        self.switch("descent")

    def timed(self, src):
        """``src`` with its time counted as twin, not as the layer that
        called it."""

        def call(rows, cols):
            self.switch(self.phase)
            out = src(rows, cols)
            now = time.perf_counter()
            self.s["twin"] += now - self.mark
            self.mark = now
            return out

        return call


def takes_source(eng: lpm.PathLPM) -> bool:
    """Whether this checkout's kernel reads hashes from a source
    (``kern(src, n)``) rather than taking the eager matrix."""
    return "n" in inspect.signature(eng._lookup_batch_guided).parameters


def calls(n: int) -> list[tuple[int, int]]:
    """(start, stop) of every kernel call over ``n`` addresses: Arrow
    batches of ``ARROW_BATCH`` rows, each split as this checkout's
    ``lookup`` splits it."""
    step = lpm._KERNEL_CHUNK
    return [
        (s, min(s + step, b + ARROW_BATCH, n))
        for b in range(0, n, ARROW_BATCH)
        for s in range(b, min(b + ARROW_BATCH, n), step)
    ]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=31)
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--stage-dir", type=Path, default=None, help="where the staged blob and addresses live (default: a temp dir)")
    args = ap.parse_args()

    out = args.stage_dir or Path(tempfile.mkdtemp(prefix="lpm_stage_"))
    out.mkdir(parents=True, exist_ok=True)
    if not (out / f"blob_{args.seed}.npy").exists():
        stage(args.seed, out)
    blob = np.load(out / f"blob_{args.seed}.npy").tobytes()
    ips = np.load(out / f"ips_{args.seed}.npy").astype(np.int64)
    eng = lpm.PathLPM.from_bytes(blob)
    spans = calls(len(ips))
    Layers(lpm.PathLPM.from_bytes(blob)).run(ips[: spans[0][1]])  # warm-up
    t0 = time.perf_counter()
    source = "eager (n, D) matrix"
    if takes_source(eng):
        cidr.Ip4HashSource(eng.depths)
        source = f"per-cell source, built in {(time.perf_counter() - t0) * 1e3:.1f} ms per task"

    passes = []
    for _ in range(args.reps):
        layers = Layers(lpm.PathLPM.from_bytes(blob))
        for s, e in spans:
            layers.run(ips[s:e])
        passes.append(layers)
    for p in passes:
        for d in (p.s, p.bits, p.fib):
            d["total"] = sum(d.values())
    n, first = len(ips), passes[0]
    print(f"engine sha256 {hashlib.sha256(blob).hexdigest()}  routes {len(eng.fib)}  depths {len(eng.depths)}  "
          f"addresses {n}  reps {args.reps}  kernel calls {len(spans)}  hashes: {source}")
    print(f"{'layer':<10}{'median s':>10}{'ns/row':>9}{'bits/row':>10}{'fib/row':>9}")
    for name in (*LAYERS, "total"):
        med = float(np.median([p.s[name] for p in passes]))
        print(f"{name:<10}{med:>10.3f}{med / n * 1e9:>9.0f}{first.bits[name] / n:>10.2f}{first.fib[name] / n:>9.3f}")


if __name__ == "__main__":
    main()
