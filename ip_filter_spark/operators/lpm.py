"""Guided longest-prefix-match over path prefixes — the reference's core.

The reference's domain is IP prefixes (length 0-32/128); ours is
'/'-separated path prefixes over the corpus (depth = component count) —
same algebra: a prefix table, a query stream, and LPM = deepest table
entry that prefixes the query.

Three lookup engines, all returning *exactly* the same answers:

- ``exact_lpm``: pure DataFrame formulation (explode candidate depths →
  broadcast join → max depth). The DuckDB-expressible oracle, mirroring
  the reference's FIB-only oracle (/root/reference/prototype/
  tests.py_bak:229-248).
- ``PathLPM.lookup(mode='linear')``: walk the domain depths deepest
  first; at each, Bloom-probe all k hashes of the rows still unresolved,
  confirm the hits in the exact FIB set, and stop a row at its first
  confirmed depth (the reference's prototype/ipfilter.py:145-175
  vectorized). This walk, ``PathLPM._scan``, is the package's one LPM
  scan: the guided engine's fallback and exactness check run it too,
  asking the FIB directly instead of the filter first.
- ``PathLPM.lookup(mode='guided')``: descend the guide BST probing only
  hash 0; decode the best-matching-prefix *pointer* hidden in spare hash
  slots; confirm the hypothesis in the FIB; fall back to the scan below
  the deepest hit on any inconsistency
  (/root/reference/prototype/ipfilter.py:184-238 vectorized,
  level-synchronous across each Arrow batch).

Build is the order-dependent reference algorithm (the reference
prototype's ipfilter.py:78-122) re-derived as an order-free
distributed job (SURVEY.md §7.3). The FIB is built first, from
one narrow collect of the route hashes. Membership/marker bits are
OR-mergeable, and the BMP pointer of each route is read from the FIB
inside the insert kernel: the deepest strictly shorter depth whose
truncation is a route. That equals the reference's "probe the filter
built so far", because its ascending insertion order guarantees every
candidate BMP precedes its descendants, so "filter so far" ≡ "complete
table at shorter depths" (invariant pinned at the prototype's
ipfilter.py:67-69). No join runs: the hash of
every truncation is already in the kernel's batch, exactly as ``lookup``
feeds its kernel (see "Key encoding").

Exactness note: the reference can return a genuine-but-not-longest match
when false-positive noise corrupts the decoded pointer and the corrupted
hypothesis happens to be a real route (same failure mode it documents at
doc/tex/report.tex:288-305). We close that hole: an accepted hypothesis
h < hit additionally scans the (h, hit] depth interval, in the same
``_scan`` call as the rejected rows' fallback, so guided ≡ linear ≡
exact always — making the operator oracle-checkable — while keeping the
probe-count savings (the interval is almost always empty). The guided
engine's hypothesis and scan confirm through the FIB alone. That gives
the linear scan's answers: the filter has no false negatives, so every
key the FIB confirms (a route, or a 64-bit collision with one) has all
k of its bits set, and the reference's Bloom checks before the FIB can
never reject it. In this numpy kernel one FIB probe costs a fraction
of one k-bit Bloom check (about 40 against 250 ns), so skipping the
filter there is the cheaper order, the inverse of the reference's
on-chip/off-chip cost model.

Key encoding: each (prefix, depth) route key hashes to ONE 64-bit value,
Spark's ``xxhash64(int depth, string prefix)``, which serves as both the
Bloom hash base and the FIB confirm key. The probe kernels read these
hashes cell by cell, (row, depth column), through a hash source
``src(rows, cols)``, built where the domain makes it cheapest:

- path and IPv6 keys are strings, so the JVM truncates and hashes them
  (``_depth_hashes``) and ships 8 bytes per (row, depth) over Arrow; the
  worker stacks them into an (n, D) matrix that ``_matrix_source``
  indexes;
- an IPv4 key is one int64 whose truncation is a mask, so it crosses as
  that one column (8 bytes per row) and ``cidr.Ip4HashSource`` hashes
  only the cells the kernel reads, with a numpy twin of the JVM hash
  that is bit-identical to it (``tests/test_cidr.py`` checks every
  depth, every decimal length, 100k random keys and null). The guided
  kernel reads about 5.5 of 17 depths per row on a BGP table. The
  build's BMP read takes the eager matrix, ``cidr.ip4_depth_hashes``.
  The domain is the ``trunc`` the caller passes: ``ip4_trunc`` selects
  the twin.

Both give the same hashes, so the filter bits, the FIB and the engine
blob do not depend on where the hashing ran. The own-route hash of the
build's FIB collect stays JVM-side in every domain. The FIB is
a sorted uint64 array in the blob. Where a kernel runs, ``_FibIndex``
adds a radix directory over its top bits, so a confirm reads about one
bucket entry instead of a binary search's ~log2(n) dependent misses.
The confirm is exact up to 64-bit collisions
between a probed non-route key and a stored route (expected wrong rows ≈
n_routes·probes / 2^64 — under 3 per trillion probes at the
``MAX_FIB_ROUTES`` design bound; zero at any test scale). Every such
wrong answer necessarily names a (prefix, depth) that is NOT in the
route table, so ``lookup(..., exact_repair=routes)`` restores full
exactness with one broadcast anti-join against the route table plus an
exact re-resolve of the (expected-empty) mismatch set. The build's BMP
read shares that window and adds no failure mode of its own: a colliding
truncation is one the probe's FIB confirm accepts too, so guided and
linear lookups shift to the same wrong depth, and ``exact_repair``
closes it the same way.
"""

from __future__ import annotations

import json
import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from ip_filter_spark.arrow import uint64_view
from ip_filter_spark.config import ARROW_BATCH
from ip_filter_spark.lifetime import cut, pinned
from ip_filter_spark.operators.cidr import Ip4HashSource, ip4_depth_hashes, ip4_key_array, ip4_trunc
from ip_filter_spark.plans.obst import GuideTree
from ip_filter_spark.sketches.bloom import BloomFilter
SEP = "/"
_MAGIC = b"IFLPM2"  # v2: uint64 xxhash64 keys (v1 shipped 16-byte sha256 digests)
#: rows per probe-kernel call: one default Arrow batch, so a batch of
#: ``config.ARROW_BATCH`` rows runs in one call. A larger batch (a
#: session that raises ``maxRecordsPerBatch``) runs in slices of this
#: many rows: the kernel's per-row temporaries (descent state, (n, k)
#: Bloom slots, (n, E) pointer bits) stay cache-resident, which the 8k
#: slices measured as a probe-rate gain (bench.py probe-scaling notes).
#: Answers are row-local, so the split cannot change them.
_KERNEL_CHUNK = ARROW_BATCH
#: the fpp every engine blob records; the filter is sized by
#: ``bits_per_route`` instead, so this value sizes nothing
_BUILD_FPP = 1e-4
#: trie branching base of ``weighting='by_share'`` (exact for bit domains)
_SHARE_BASE = 2.0
#: design bound on the FIB: the driver collects it and every probe task
#: holds it (8 B per route for the keys plus under 8 B per route for the
#: ``_FibIndex`` directory); a larger table is sharded (see build())
MAX_FIB_ROUTES = 50_000_000


def _h64_expr(key_col, depth_col):
    """64-bit key hash of a (prefix, depth) pair, JVM-side — the analog
    of the reference's encoded key ``(len << b) + prefix``
    (/root/reference/prototype/utils.py:53-56). ``xxhash64`` is a native
    codegen expression (no sha2 rounds, no unhex/substring), and ONE
    LongType column per (row, depth) is the minimum the kernel needs:
    the same value is the Kirsch–Mitzenmacher base for every Bloom probe
    AND the FIB confirm key (see module docstring for the collision
    bound and the ``exact_repair`` escape hatch)."""
    d = depth_col if hasattr(depth_col, "cast") else F.lit(depth_col)
    return F.xxhash64(d.cast("int"), key_col)


def _depth_hashes(key_col, depths: list[int], trunc) -> list:
    """One flat LongType column ``__h{j}`` per route depth: the key
    truncated to ``depths[j]``, hashed by ``_h64_expr``. Flat int64
    columns, NOT array<bigint>: a nested list column materializes per-row
    list cells plus a worker-side unpack, while flat int64 buffers arrive
    kernel-ready. How the path and IPv6 domains feed the build's insert
    pass and ``lookup``; for IPv4 keys it is the reference that
    ``cidr.ip4_depth_hashes`` reproduces in the worker (``_key_cols``)."""
    return [_h64_expr(trunc(key_col, d), F.lit(d)).alias(f"__h{j}") for j, d in enumerate(depths)]


def _key_cols(key_col, depths: list[int], trunc) -> list:
    """The columns a kernel batch carries its keys in. IPv4
    (``trunc=ip4_trunc``): ONE int64 column ``__k``, the key cast to
    long (the first step of ``ip4_trunc``), which the worker hashes per
    depth with ``cidr.ip4_depth_hashes``: 8 bytes per row over Arrow
    instead of 8 per (row, depth), and no JVM hashing. Other domains:
    the D JVM hash columns of ``_depth_hashes``."""
    if trunc is ip4_trunc:
        return [key_col.cast("long").alias("__k")]
    return _depth_hashes(key_col, depths, trunc)


def _batch_hashes(b: pd.DataFrame, depths: list[int]) -> np.ndarray:
    """The (n, D) uint64 hash matrix of one pandas batch of ``_key_cols``
    (the build's insert and by_share passes). A route prefix outside
    [0, 2^32) raises ``ValueError`` in the v4 domain."""
    if "__k" in b.columns:
        import pyarrow as pa

        keys = pa.Array.from_pandas(b["__k"])  # float64 with NaN if the batch has a null
        return ip4_depth_hashes(ip4_key_array(keys.cast(pa.int64()), "prefix"), depths)
    return np.column_stack([b[f"__h{j}"].to_numpy() for j in range(len(depths))]).astype(np.int64, copy=False).view(np.uint64)


def _matrix_source(H: np.ndarray):
    """A kernel's hash source over an (n, D) uint64 hash matrix:
    ``src(rows, cols)`` is ``H[rows, cols]``, ``cols`` one column per row
    or one for all. The probe kernels read every key hash through such a
    callable, so an IPv4 batch can hash only the cells they read
    (``cidr.Ip4HashSource``)."""
    return lambda rows, cols: H[rows, cols]


class _FibIndex:
    """The FIB as its kernels probe it: the sorted uint64 route-key array
    plus a radix directory over the keys' top ``b`` bits, 2^b >= n. A
    key ``h`` can only sit in ``keys[dir[t] : dir[t + 1]]`` with
    ``t = h >> (64 - b)``, a bucket of about one entry — ``dir`` equals
    ``searchsorted(keys >> (64 - b), arange(2^b + 1))``. int32 offsets
    (n < 2^31 under ``MAX_FIB_ROUTES``) make the directory under 8 B per
    route. Derived where a kernel runs (the worker's ``from_bytes``,
    once per build partition, the driver-local build); never
    serialized, so the engine blob holds only ``keys``."""

    __slots__ = ("keys", "shift", "dir")

    def __init__(self, keys: np.ndarray):
        b = max(1, (len(keys) - 1).bit_length())
        self.keys = keys
        self.shift = np.uint64(64 - b)
        counts = np.bincount((keys >> self.shift).astype(np.intp), minlength=1 << b)
        self.dir = np.zeros(len(counts) + 1, dtype=np.int32)
        np.cumsum(counts, dtype=np.int32, out=self.dir[1:])


def _fib_member(fib: _FibIndex, h: np.ndarray) -> np.ndarray:
    """Membership of uint64 key hashes in the FIB — shared by the build's
    BMP read and the lookup kernels (see module docstring for the 64-bit
    collision bound and the exact_repair escape hatch). Each key walks
    its directory bucket in lockstep with the others, one sorted entry
    per round, until it meets a key >= itself or the bucket ends."""
    keys = fib.keys
    if not len(keys):
        return np.zeros(len(h), dtype=bool)
    t = (h >> fib.shift).astype(np.intp)
    lo, hi = fib.dir[t], fib.dir[t + 1]
    # round 1, every key at once: its bucket's first entry. Where the
    # bucket is empty the (clamped) read lands in another bucket, whose
    # keys differ from h in the top bits, so it cannot match
    v = keys[np.minimum(lo, len(keys) - 1)]
    found = v == h
    # later rounds: only the keys still below an entry of their bucket
    act = np.nonzero((v < h) & (hi - lo > 1))[0]
    lo, hi, h = lo[act] + 1, hi[act], h[act]
    while len(act):
        v = keys[lo]
        found[act[v == h]] = True
        lo += 1
        more = (v < h) & (lo < hi)
        act, lo, hi, h = act[more], lo[more], hi[more], h[more]
    return found


def _route_bmp(fib: _FibIndex, depths: list[int], b: pd.DataFrame):
    """One batch of routes (h64, depth, key columns) → (H, own, bmp_ix): the
    (n, D) uint64 hash matrix, each route's own depth column, and its BMP
    pointer — the index into [0] + depths of the deepest strictly shorter
    depth whose truncation is a FIB route, 0 if none. The reference reads
    the BMP from the filter built so far (ipfilter.py:98); the FIB is the
    complete table, equal to it at shorter depths (module docstring).
    The one BMP function, behind both the insert kernel and by_share."""
    D = len(depths)
    H = _batch_hashes(b, depths)
    own = np.searchsorted(depths, b["depth"].to_numpy())
    below = np.arange(D)[None, :] < own[:, None]
    hit = np.zeros(H.shape, dtype=bool)
    hit[below] = _fib_member(fib, H[below])
    return H, own, np.where(hit.any(axis=1), D - np.argmax(hit[:, ::-1], axis=1), 0)


def _insert_routes(bf: BloomFilter, fib: _FibIndex, depths: list[int], walk_cols: np.ndarray, b: pd.DataFrame) -> int:
    """Insert one batch of routes into a filter — the reference's guided
    insert (ipfilter.py:78-122) as one numpy pass: all k hashes of the
    route; a hash-0 marker (not an item) at the s-th right turn of its
    guide-tree walk, column ``walk_cols[own, s]`` (-1 past the walk's
    end); and, if it has a BMP, the pointer in slots [s+1, ...) of that
    marker. Shared by the driver-local and the distributed build, so both
    give byte-identical filters."""
    if not len(b):
        return 0
    H, own, bmp_ix = _route_bmp(fib, depths, b)
    bf.insert_hashes(b["h64"].to_numpy().astype(np.int64, copy=False).view(np.uint64))
    for s in range(walk_cols.shape[1]):
        col = walk_cols[own, s]
        rows = np.nonzero(col >= 0)[0]
        marks = H[rows, col[rows]]
        bf.insert_hashes(marks, hashes=[0])
        bf.n_items -= len(rows)  # markers aren't items
        ptr = bmp_ix[rows] > 0
        bf.encode_pattern(marks[ptr], start=s + 1, patterns=bmp_ix[rows[ptr]].astype(np.uint64))
    return len(b)


def _trunc(path_col, depth):
    """First ``depth`` components of a path (depth: int or Column)."""
    d = depth if hasattr(depth, "cast") else F.lit(depth)
    return F.call_function("substring_index", path_col, F.lit(SEP), d.cast("int"))


def path_depth(path_col):
    return F.size(F.split(path_col, SEP))


def derive_prefix_table(corpus: DataFrame, path_col: str = "path", max_depth: int = 3, every: int = 2) -> DataFrame:
    """Deterministic route table from corpus paths: all distinct depth-1/2
    truncations plus a hash-selected subset of deeper ones (so some
    queries hit deep routes, some shallow, some only the default)."""
    parts = []
    for d in range(1, max_depth + 1):
        t = corpus.select(_trunc(F.col(path_col), d).alias("prefix")).where(path_depth(F.col(path_col)) >= d).distinct()
        if d > 1:
            t = t.where((F.abs(F.xxhash64("prefix")) % every) == 0)
        parts.append(t.withColumn("depth", F.lit(d)))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select("prefix", "depth")


def exact_lpm(queries: DataFrame, prefix_df: DataFrame, path_col: str = "path", trunc=None) -> DataFrame:
    """Exact LPM via explode + broadcast join + groupBy max — the oracle.

    Scale shape: candidate explosion is bounded by the (small) distinct
    depth count; the join broadcasts the route table; one shuffle for the
    per-query max. Returns queries + (lpm_depth int, lpm_prefix string).

    ``trunc`` selects the prefix domain like ``PathLPM.build/lookup``
    (default '/'-path components). For non-path domains the path-depth
    candidate guard is skipped — fixed-width keys (masked IPs, hex) are
    truncatable at every route depth by construction.
    """
    trunc = trunc or _trunc
    depths = [r.depth for r in prefix_df.select("depth").distinct().collect()]
    # __qid feeds two join branches; monotonically_increasing_id is
    # nondeterministic under recomputation (task retry / AQE replan), so
    # fix the ids with an eager cut — recomputation then reads the
    # materialized blocks instead of re-assigning ids (ADVICE r1)
    q = cut(queries.withColumn("__qid", F.monotonically_increasing_id()))
    cand = q.select(
        "__qid",
        F.col(path_col),
        F.explode(F.array(*[F.lit(d) for d in sorted(depths)])).alias("__d"),
    )
    if trunc is _trunc:
        cand = cand.where(path_depth(F.col(path_col)) >= F.col("__d"))
    cand = cand.select("__qid", F.col("__d"), trunc(F.col(path_col), F.col("__d")).alias("__prefix"))
    joined = cand.join(
        F.broadcast(prefix_df.withColumnRenamed("prefix", "__prefix").withColumnRenamed("depth", "__d")),
        on=["__prefix", "__d"],
        how="inner",
    )
    best = joined.groupBy("__qid").agg(F.max("__d").alias("lpm_depth"))
    out = (
        q.join(best, on="__qid", how="left")
        .withColumn("lpm_depth", F.coalesce(F.col("lpm_depth"), F.lit(0)).cast("int"))
        .withColumn(
            "lpm_prefix",
            F.when(F.col("lpm_depth") > 0, trunc(F.col(path_col), F.col("lpm_depth"))).otherwise(F.lit(None)),
        )
        .drop("__qid")
    )
    return out


class PathLPM:
    """Immutable LPM engine: Bloom filter + guide tree + exact FIB set."""

    def __init__(
        self,
        bf: BloomFilter,
        tree: GuideTree,
        depths: list[int],
        fib: np.ndarray,  # (n_routes,) uint64 key hashes, sorted ascending
        enc_bits: int,
    ):
        self.bf = bf
        self.tree = tree
        self.depths = list(depths)  # sorted distinct route depths
        self.ix2len = [0] + self.depths
        self.fib = fib
        self.enc_bits = enc_bits

    @property
    def fib(self) -> np.ndarray:
        return self._fib.keys

    @fib.setter
    def fib(self, keys: np.ndarray):
        # the probe directory follows the keys, so a reassigned FIB takes
        # effect in the kernels at once
        self._fib = _FibIndex(keys)

    # ----------------------------------------------------------------- build
    @staticmethod
    def _share_weights(with_bmp: DataFrame, depths: list[int], base: float) -> list[float]:
        """Per-depth address/namespace-space share — the reference's
        ``weigh_by_prefix_range`` (/root/reference/data/obst.py:42-47)
        backed by its IPSet space stats (data/preprocess_bgp_tables.py:
        61-115), re-derived distributed: prefixes in a trie domain are
        nested-or-disjoint, so the TIGHT space of a prefix p (its span
        minus more-specific routes, which take precedence) is
        base^-len(p) - sum(base^-len(q)) over q whose immediate ancestor
        (BMP) is p. ``with_bmp`` has one (depth, bmp_depth) row per route;
        one groupBy counts its pairs — no IPSet materialization. base=2
        is exact for bit domains (CIDR); for '/'-path corpora it is the
        documented branching heuristic."""
        own = {d: 0.0 for d in depths}
        covered = {d: 0.0 for d in depths}
        for r in with_bmp.groupBy("depth", "bmp_depth").count().collect():
            span = r["count"] * float(base) ** -int(r.depth)
            own[int(r.depth)] += span
            if r.bmp_depth > 0:
                covered[int(r.bmp_depth)] += span
        return [max(own[d] - covered[d], 0.0) for d in depths]

    @staticmethod
    def required_k(n_depths: int, tree_height: int) -> tuple[int, int]:
        enc_bits = (n_depths + 1).bit_length()
        k = tree_height + enc_bits + 4
        return k, enc_bits

    @classmethod
    def build(
        cls,
        prefix_df: DataFrame,
        k: int | None = None,
        weighting: str = "by_count",
        num_partitions: int = 32,
        bits_per_route: int = 40,
        trunc=None,
        local_build_max_inserts: int = 1_000_000,
    ) -> "PathLPM":
        """FIB-first guided build (see module docstring).

        One narrow collect of (h64, depth) per route yields the FIB, the
        depth list and the per-depth counts. Then ONE insert pass ships
        each route's own hash plus one flat hash column per depth (as
        ``lookup`` does) to ``_insert_routes``, which reads each route's
        BMP from the FIB and sets the full-route bits, hash-0 markers and
        pointer patterns. A table of at most ``local_build_max_inserts``
        inserts runs the kernel once on the driver; a larger one runs it
        per partition (``num_partitions``) and OR-merges the partial
        filters through the engine's ``tree_merge``. Both give the same
        bytes. ``weighting`` sets the guide tree's per-depth weights:
        ``'by_count'`` (routes per depth) or ``'by_share'`` (tight
        address-space share, ``_share_weights``), which adds one pass of
        the same BMP function before the tree is built.

        The filter is deliberately sparse (``bits_per_route`` bits/route,
        at least 1024 bits) — the reference's own finding: hash-0 markers
        and pointer slots are only trustworthy in a sparse filter
        (/root/reference/doc/tex/report.tex:548-569, 'keep it sparse').

        ``trunc(key_col, depth)`` defines the prefix domain: given a key
        column and a depth (int or Column), return the key truncated to
        that depth. Default is '/'-path component truncation; the CIDR
        adapter passes numeric mask truncation so IPv4 keys never
        round-trip through 32-component bit strings. The SAME trunc must
        be passed to ``lookup``.

        Raises ``ValueError`` on an unknown ``weighting``, on an empty
        route table and on one of more than ``MAX_FIB_ROUTES`` routes.
        """
        if weighting not in ("by_count", "by_share"):
            raise ValueError(f"weighting must be 'by_count' or 'by_share', got {weighting!r}")
        trunc = trunc or _trunc
        sc = prefix_df.sparkSession.sparkContext
        # the route table is read by two actions below (the FIB collect
        # and the insert pass; by_share adds a third); its lineage
        # typically contains a distinct() over the full corpus — pin it
        # or each action re-scans the corpus (measured 7x build-time
        # difference). Released on every exit, a failed build included.
        fib_bc = None
        with pinned() as pin:
            try:
                prefix_df = pin(prefix_df)
                own_h64 = _h64_expr(F.col("prefix"), F.col("depth")).alias("h64")
                depth = F.col("depth").cast("int").alias("depth")
                keys = prefix_df.select(own_h64, depth).toPandas()
                n_routes = len(keys)
                if not n_routes:
                    raise ValueError("prefix_df is empty: cannot build an LPM filter from an empty route table")
                if n_routes > MAX_FIB_ROUTES:
                    raise ValueError(
                        f"FIB of {n_routes} routes exceeds the broadcastable design bound of {MAX_FIB_ROUTES}; "
                        "shard the route table per depth-1 prefix and build one engine per shard"
                    )
                fib = np.sort(keys["h64"].to_numpy().astype(np.int64, copy=False).view(np.uint64))
                depths, counts = (a.tolist() for a in np.unique(keys["depth"].to_numpy(), return_counts=True))
                cols = [own_h64, depth, *_key_cols(F.col("prefix"), depths, trunc)]
                if weighting == "by_share":
                    fib_bc = sc.broadcast(fib)

                    def route_bmp(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                        ix2len = np.array([0] + depths)
                        fibx = _FibIndex(fib_bc.value)
                        for b in batches:
                            bmp_ix = _route_bmp(fibx, depths, b)[2]
                            yield pd.DataFrame({"depth": b["depth"], "bmp_depth": ix2len[bmp_ix]})

                    bmps = prefix_df.select(*cols).mapInPandas(route_bmp, "depth int, bmp_depth int")
                    weights = cls._share_weights(bmps, depths, _SHARE_BASE)
                else:
                    weights = counts
                tree = GuideTree.from_weights(depths, weights)
                k_auto, enc_bits = cls.required_k(len(depths), tree.height())
                k = k or k_auto
                num_bits = max(1024, bits_per_route * n_routes)
                bf_params = dict(fpp=_BUILD_FPP, n=n_routes, k=k, num_bits=num_bits)

                # per route depth, the depth columns of its walk's right
                # turns: where a route plants its markers and pointer bits
                walks = [[depths.index(v) for v, turn in tree.walk(d) if turn == "R"] for d in depths]
                walk_cols = np.full((len(depths), max(map(len, walks))), -1, dtype=np.int64)
                for i, w in enumerate(walks):
                    walk_cols[i, : len(w)] = w

                # adaptive build strategy (same idea as Spark choosing a
                # broadcast join for a small side): the insert count is known
                # exactly from the per-depth counts + walks (patterns <=
                # markers), so a driver-sized build skips the distributed
                # partials job — one toPandas + one numpy pass instead of
                # shuffle + python stage + merge stage (measured ~4.5 s of
                # fixed job cost at 1k routes).
                n_inserts_max = n_routes + 2 * sum(c * len(w) for c, w in zip(counts, walks))
                if n_inserts_max <= local_build_max_inserts:
                    bf = BloomFilter(**bf_params)
                    _insert_routes(bf, _FibIndex(fib), depths, walk_cols, prefix_df.select(*cols).toPandas())
                else:
                    # OR-merge the partial filters through the engine's
                    # hierarchical tree_merge — O(P * blob) bytes over the
                    # cluster, nothing byte-merged serially on the driver
                    # (VERDICT #4)
                    from ip_filter_spark.engine import _emit_partials, _fold_blobs, tree_merge

                    if fib_bc is None:
                        fib_bc = sc.broadcast(fib)

                    def build_filter(batches: Iterator[pd.DataFrame]) -> tuple[list[BloomFilter], int]:
                        bf, fibx = BloomFilter(**bf_params), _FibIndex(fib_bc.value)
                        return [bf], sum(_insert_routes(bf, fibx, depths, walk_cols, b) for b in batches)

                    # repartition the narrow route rows, then hash: the
                    # shuffle moves (prefix, depth), not D + 1 hash columns
                    src = prefix_df.repartition(num_partitions).select(*cols)
                    partials = _emit_partials(src, build_filter, ["lpm_filter"])
                    bf = _fold_blobs(r.payload for r in tree_merge(partials, num_partials=num_partitions).collect())
                return cls(bf, tree, depths, fib, enc_bits)
            finally:
                if fib_bc is not None:
                    fib_bc.destroy()

    # --------------------------------------------------------------- helpers
    def _probe_slots(self, h64: np.ndarray, slots: np.ndarray) -> np.ndarray:
        """Gather filter bits for per-row slot matrices (n, s)."""
        h1 = h64 & np.uint64(0xFFFFFFFF)
        h2 = (h64 >> np.uint64(32)) | np.uint64(1)
        with np.errstate(over="ignore"):
            ix = (h1[:, None] + slots.astype(np.uint64) * h2[:, None]) % np.uint64(self.bf.m)
        byte = self.bf.bits[(ix >> 3).astype(np.int64)]
        return (byte >> (ix & np.uint64(7)).astype(np.uint8)) & np.uint8(1)

    # ---------------------------------------------------------------- lookup
    def lookup(
        self,
        df: DataFrame,
        path_col: str = "path",
        mode: str = "guided",
        trunc=None,
        exact_repair: DataFrame | None = None,
    ) -> DataFrame:
        """Batch LPM: returns df + (lpm_depth, lpm_prefix, bit_lookups,
        fib_probes, fell_back). The blob+tree+FIB broadcast once; each
        Arrow batch is probed with pure numpy matrix ops.

        Python stage is ``mapInArrow``, not ``mapInPandas``: passthrough
        columns are re-emitted as the SAME Arrow arrays (zero copy — a
        wide corpus row never materializes as pandas objects). The
        kernel reads per-depth key hashes one (row, depth) cell at a
        time from a hash source (module docstring, "Key encoding").
        Which side computes them depends on the domain:

        - IPv4 (``trunc=ip4_trunc``): the key crosses as one int64
          column, and ``cidr.Ip4HashSource``, built once per task,
          hashes just the cells the kernel reads with the bit-identical
          twin of the JVM hash. A long-typed key column crosses
          once, as itself. A key outside [0, 2^32) raises
          ``ValueError`` naming ``path_col``.
        - Path and IPv6 domains: the JVM computes ``_depth_hashes``, and
          the D int64 Arrow buffers are stacked into the (n, D) matrix
          the kernel indexes, with no Python-side hashing.

        Each Arrow batch of up to ``_KERNEL_CHUNK`` rows (the default
        batch size) runs in one kernel call; a larger batch runs in
        slices of that many rows.

        The three diagnostic columns count what the kernel did for the
        row, as the reference's invocation-counting profiler does:

        - ``bit_lookups``: Bloom bits read. The linear scan reads k per
          depth it visits, deepest first, down to the first depth the
          FIB confirms (all D depths when none does). The guided engine
          reads one bit per descent step and, at its deepest hit, the
          ``enc_bits`` pointer bits; nothing after that.
        - ``fib_probes``: FIB confirms made. Linear: one per depth whose
          k Bloom bits all pass. Guided: one for a candidate hypothesis,
          plus one per depth its fallback or exactness scan visits.
        - ``fell_back``: the guided hypothesis was rejected and the row
          ran the scan below its deepest hit. Always false in
          linear mode and for rows the descent never hit.

        ``trunc`` must match the one the engine was built with (see
        ``build``). ``mode`` is ``'guided'`` or ``'linear'``; anything
        else raises ``ValueError``. ``exact_repair``: pass the route
        table (prefix, depth) to close the FIB's 64-bit collision window
        — answers are verified with a broadcast anti-join and the
        (expected-empty) mismatch set is re-resolved exactly; see module
        docstring."""
        if mode not in ("guided", "linear"):
            raise ValueError(f"mode must be 'guided' or 'linear', got {mode!r}")
        trunc = trunc or _trunc
        spark = df.sparkSession
        payload = self.to_bytes()
        bc = spark.sparkContext.broadcast(payload)
        depths = self.depths

        v4 = trunc is ip4_trunc
        n_keep = len(df.columns)
        if v4 and dict(df.dtypes).get(path_col) == "bigint":
            key_cols, key_ix = [], df.columns.index(path_col)
        else:
            key_cols, key_ix = _key_cols(F.col(path_col), depths, trunc), n_keep
        src = df.select("*", *key_cols)
        keep = df.schema.fields
        names = df.columns
        out_schema = StructType(
            keep
            + [
                StructField("lpm_depth", IntegerType(), False),
                StructField("bit_lookups", LongType(), False),
                StructField("fib_probes", LongType(), False),
                StructField("fell_back", BooleanType(), False),
            ]
        )
        mode_guided = mode == "guided"

        def run(batches):
            import pyarrow as pa

            eng = PathLPM.from_bytes(bc.value)
            kern = eng._lookup_batch_guided if mode_guided else eng._lookup_batch_linear
            hashes = Ip4HashSource(depths) if v4 else None  # once per task, like the FIB directory
            out_names = names + ["lpm_depth", "bit_lookups", "fib_probes", "fell_back"]
            for b in batches:
                nb = b.num_rows
                passthrough = b.columns[:n_keep]
                if nb == 0:
                    ans = np.zeros(0, dtype=np.int64)
                    bits, fibp = ans, ans
                    fell = np.zeros(0, dtype=bool)
                else:
                    if v4:
                        keys = ip4_key_array(b.column(key_ix), path_col)

                        def source(s):
                            return hashes.bind(keys[s : s + _KERNEL_CHUNK])
                    else:
                        H = np.column_stack([uint64_view(c) for c in b.columns[n_keep:]])

                        def source(s):
                            return _matrix_source(H[s : s + _KERNEL_CHUNK])

                    parts = [kern(source(s), min(_KERNEL_CHUNK, nb - s)) for s in range(0, nb, _KERNEL_CHUNK)]
                    ans, bits, fibp, fell = (np.concatenate(x) for x in zip(*parts))
                yield pa.RecordBatch.from_arrays(
                    passthrough
                    + [
                        pa.array(ans.astype(np.int32)),
                        pa.array(bits.astype(np.int64)),
                        pa.array(fibp.astype(np.int64)),
                        pa.array(fell),
                    ],
                    names=out_names,
                )

        out = src.mapInArrow(run, schema=out_schema)
        out = out.withColumn(
            "lpm_prefix",
            F.when(F.col("lpm_depth") > 0, trunc(F.col(path_col), F.col("lpm_depth"))).otherwise(F.lit(None)),
        )
        if exact_repair is not None:
            out = self._repair_collisions(out, exact_repair, path_col, trunc)
        return out

    def _repair_collisions(self, out: DataFrame, routes: DataFrame, path_col: str, trunc) -> DataFrame:
        """Close the 64-bit FIB window exactly: every collision-corrupted
        answer names a (lpm_prefix, lpm_depth) NOT in the route table
        (module docstring), so a broadcast anti-join isolates the
        (expected-empty) mismatch set and ``exact_lpm`` re-resolves just
        those rows against the same routes. Verified rows pass through
        untouched; kernel metric columns are kept on repaired rows."""
        # materialize the probe output ONCE: the three-way split below
        # references it three times (depth==0 branch, semi 'ok', anti
        # 'bad'), which re-ran the whole mapInArrow probe stage ~3x
        # (ADVICE r5); the eager cut keeps one computation
        out = cut(out)
        rt = F.broadcast(
            routes.select(F.col("prefix").alias("__rp"), F.col("depth").cast("int").alias("__rd"))
        )
        claimed = out.where(F.col("lpm_depth") > 0)
        ok = claimed.join(
            rt,
            (F.col("lpm_prefix") == F.col("__rp")) & (F.col("lpm_depth") == F.col("__rd")),
            "left_semi",
        )
        bad = claimed.join(
            rt,
            (F.col("lpm_prefix") == F.col("__rp")) & (F.col("lpm_depth") == F.col("__rd")),
            "left_anti",
        )
        # collision mismatches are expected EMPTY (~5 wrong rows per
        # trillion probes); skip the exact re-resolve entirely then —
        # exact_lpm otherwise runs an unconditional cut +
        # depth collect + join chain per call (ADVICE r5)
        if bad.isEmpty():
            return out.where(F.col("lpm_depth") == 0).unionByName(ok)
        fixed = exact_lpm(
            bad.drop("lpm_depth", "lpm_prefix"), routes, path_col=path_col, trunc=trunc
        ).select(*out.columns)
        return out.where(F.col("lpm_depth") == 0).unionByName(ok).unionByName(fixed)

    # ------------------------------------------------------- batch kernels
    def _scan(self, src, rows: np.ndarray, lo_col: np.ndarray, cap_col: np.ndarray, bloom: bool = True):
        """The one LPM scan — the reference's linear probe
        (prototype/ipfilter.py:145-159) batched: for each
        row in ``rows`` (of the batch ``src`` reads, see ``_matrix_source``),
        walk the domain columns in (lo_col, cap_col]
        deepest first; at each column Bloom-probe all k hashes of the
        rows still unresolved, FIB-confirm the hits, and drop the rows
        that confirm. ``bloom=False`` skips the Bloom probe and asks the
        FIB directly: the filter has no false negatives for FIB keys, so
        the answers are the same and only the counters move. Returns
        (answer_depth, bit_lookups, fib_probes) per row: the depth is 0
        where nothing in the interval confirms, and the counters are the
        probes this walk actually made."""
        nr = len(rows)
        ans = np.zeros(nr, dtype=np.int64)
        bits = np.zeros(nr, dtype=np.int64)
        fibp = np.zeros(nr, dtype=np.int64)
        unresolved = np.ones(nr, dtype=bool)
        k = self.bf.k
        slots = np.arange(k, dtype=np.uint64)
        for j in range(len(self.depths) - 1, -1, -1):
            act = unresolved & (lo_col < j) & (j <= cap_col)
            if not act.any():
                continue
            hr = np.nonzero(act)[0]
            h = src(rows[hr], j)
            if bloom:
                bj = self._probe_slots(h, np.broadcast_to(slots, (len(hr), k)))
                bits[hr] += k
                passed = bj.all(axis=1)
                hr, h = hr[passed], h[passed]
            if len(hr):
                ok = _fib_member(self._fib, h)
                fibp[hr] += 1
                got = hr[ok]
                ans[got] = self.depths[j]
                unresolved[got] = False
        return ans, bits, fibp

    def _lookup_batch_linear(self, src, n: int):
        """Linear LPM of the ``n`` rows ``src`` reads: (answer depth,
        bit_lookups, fib_probes, fell_back) per row."""
        ans, bits, fibp = self._scan(src, np.arange(n), np.full(n, -1), np.full(n, len(self.depths) - 1))
        return ans, bits, fibp, np.zeros(n, dtype=bool)

    def _lookup_batch_guided(self, src, n: int):
        """Guided LPM of the ``n`` rows ``src`` reads, same outputs as
        ``_lookup_batch_linear``."""
        tree = self.tree
        col_of_val = {int(v): j for j, v in enumerate(self.depths)}
        node_col = np.array([col_of_val[int(v)] for v in tree.val], dtype=np.int64)

        cur = np.full(n, tree.root, dtype=np.int64)
        count_hit = np.zeros(n, dtype=np.int64)
        hit_col = np.full(n, -1, dtype=np.int64)
        hit_h = np.zeros(n, dtype=np.uint64)  # the deepest hit's hash
        bits_used = np.zeros(n, dtype=np.int64)

        # level-synchronous BST descent probing hash 0 only
        # (/root/reference/prototype/ipfilter.py:195-203)
        while True:
            active = cur >= 0
            if not active.any():
                break
            rows = np.nonzero(active)[0]
            cols = node_col[cur[rows]]
            h = src(rows, cols)
            bit0 = self._probe_slots(h, np.zeros((len(rows), 1), dtype=np.uint64))[:, 0].astype(bool)
            bits_used[rows] += 1
            count_hit[rows[bit0]] += 1
            hit_col[rows[bit0]] = cols[bit0]
            hit_h[rows[bit0]] = h[bit0]
            nxt = np.where(bit0, tree.right[cur[rows]], tree.left[cur[rows]])
            cur[rows] = nxt

        ans = np.zeros(n, dtype=np.int64)
        fibp = np.zeros(n, dtype=np.int64)
        fell = np.zeros(n, dtype=bool)
        hit_rows = np.nonzero(hit_col >= 0)[0]
        if len(hit_rows) == 0:
            return ans, bits_used, fibp, fell

        E = self.enc_bits
        depths_arr = np.array(self.depths, dtype=np.int64)
        ix2len_arr = np.array(self.ix2len, dtype=np.int64)

        # decode the BMP pointer from slots [count_hit, count_hit+E) of
        # the hash the descent read at the deepest hit
        hh = hit_h[hit_rows]
        slot0 = count_hit[hit_rows]
        slots = slot0[:, None] + np.arange(E, dtype=np.int64)[None, :]
        ptr_bits = self._probe_slots(hh, slots)
        bits_used[hit_rows] += E
        bmp_ix = (ptr_bits.astype(np.int64) * (1 << np.arange(E, dtype=np.int64))[None, :]).sum(axis=1)

        hit_depth = depths_arr[hit_col[hit_rows]]
        all_ones = bmp_ix == (1 << E) - 1
        valid_ix = bmp_ix < len(ix2len_arr)
        hyp_depth = np.where(valid_ix, ix2len_arr[np.clip(bmp_ix, 0, len(ix2len_arr) - 1)], hit_depth)
        hyp_depth = np.where(all_ones, hit_depth, hyp_depth)

        # the scan each hit row still needs: a rejected row falls back to
        # the linear scan strictly below its deepest hit (ipfilter.py:
        # 234-236), i.e. columns (-1, hit-1]; an accepted row checks
        # (hyp, hit] — the exactness patch (module docstring), empty when
        # the hypothesis is the hit itself
        lo_col = np.full(len(hit_rows), -1, dtype=np.int64)
        cap_col = hit_col[hit_rows] - 1
        accepted = np.zeros(len(hit_rows), dtype=bool)
        # candidate accept: hypothesis must exist (depth>0) and be
        # self (all-ones) or strictly shorter (ipfilter.py:227)
        cand = (all_ones | (hyp_depth < hit_depth)) & (hyp_depth > 0)
        if cand.any():
            c = np.nonzero(cand)[0]
            hyp_col = np.searchsorted(depths_arr, hyp_depth[c])
            # exact FIB confirm (ipfilter.py:231). The reference first
            # checks the remaining validation hashes (ipfilter.py:228-230),
            # but a FIB key has all k of its bits set, so they cannot
            # reject a hypothesis the FIB confirms
            accept = _fib_member(self._fib, src(hit_rows[c], hyp_col))
            fibp[hit_rows[c]] += 1
            accepted[c] = accept
            acc = c[accept]
            ans[hit_rows[acc]] = hyp_depth[acc]
            lo_col[acc] = hyp_col[accept]
            cap_col[acc] += 1
        fell[hit_rows[~accepted]] = True
        deeper, sb, sf = self._scan(src, hit_rows, lo_col, cap_col, bloom=False)
        bits_used[hit_rows] += sb
        fibp[hit_rows] += sf
        upd = deeper > 0
        ans[hit_rows[upd]] = deeper[upd]
        return ans, bits_used, fibp, fell

    # ------------------------------------------------------------ serialization
    def to_bytes(self) -> bytes:
        meta = {
            "depths": self.depths,
            "enc_bits": self.enc_bits,
            "bf_params": self.bf._params(),
            "bf_n_items": self.bf.n_items,
            "root": self.tree.root,
        }
        mj = json.dumps(meta, separators=(",", ":")).encode()
        arrs = [
            self.bf.bits,
            self.tree.val.astype(np.int64),
            self.tree.left.astype(np.int64),
            self.tree.right.astype(np.int64),
            np.ascontiguousarray(self.fib),
        ]
        head = [_MAGIC, struct.pack("<I", len(mj)), mj, struct.pack("<I", len(arrs))]
        for a in arrs:
            head.append(struct.pack("<cI", a.dtype.char.encode(), a.shape[0]))
            head.append(struct.pack("<I", a.shape[1] if a.ndim > 1 else 0))
            head.append(a.tobytes())
        return b"".join(head)

    @classmethod
    def from_bytes(cls, blob: bytes) -> "PathLPM":
        if blob[: len(_MAGIC)] != _MAGIC:
            if blob[:5] == b"IFLPM":
                raise ValueError(
                    f"incompatible PathLPM blob version {blob[:6]!r}: this build "
                    f"reads {_MAGIC.decode()} (uint64 xxhash64 keys); rebuild the "
                    "engine from its route table"
                )
            raise ValueError("not a PathLPM blob")
        off = len(_MAGIC)
        (mlen,) = struct.unpack_from("<I", blob, off)
        off += 4
        meta = json.loads(blob[off : off + mlen])
        off += mlen
        (n_arr,) = struct.unpack_from("<I", blob, off)
        off += 4
        arrs = []
        for _ in range(n_arr):
            ch, n0 = struct.unpack_from("<cI", blob, off)
            off += 5
            (n1,) = struct.unpack_from("<I", blob, off)
            off += 4
            dt = np.dtype(ch.decode())
            count = n0 * (n1 if n1 else 1)
            a = np.frombuffer(blob[off : off + count * dt.itemsize], dtype=dt)
            if n1:
                a = a.reshape(n0, n1)
            arrs.append(a.copy())
            off += count * dt.itemsize
        bp = meta["bf_params"]
        bf = BloomFilter(fpp=bp["fpp"], n=bp["expected_n"], k=bp["k"], num_bits=bp["m"], _bits=arrs[0])
        bf.n_items = meta["bf_n_items"]
        tree = GuideTree(arrs[1], arrs[2], arrs[3], meta["root"])
        return cls(bf, tree, meta["depths"], arrs[4], meta["enc_bits"])
