"""IPv4/IPv6 CIDR adapter for the LPM engine — the reference's actual
domain (/root/reference/prototype/utils.py:53-56 encodes routes as
``(prefix_len << 32|128) + prefix``; ipfilter.py:26-27 ``NUMBITS =
{'v4': 32, 'v6': 128}``).

The PathLPM kernel is domain-agnostic (it hashes (prefix, depth) pairs),
so each key domain is a column-expression mapping plus a truncation:

- bit paths: an address becomes a per-bit '/'-joined path
  (``"1/0/0/..."``, 32 or 128 components) and a CIDR route the first
  ``prefix_len`` components at depth ``prefix_len``. Longest-prefix-
  match over bit-paths IS longest-prefix-match over CIDRs;
- numeric IPv4 (``ip4_trunc``): the key is the address as a long and a
  route is its masked address as a decimal string;
- masked-hex IPv6 (``ip6_trunc``): the key is 32 lowercase hex chars.

Parsing, masking and formatting run JVM-side (whole-stage codegen).
Per-depth key hashing runs JVM-side too, except for numeric IPv4: there
the LPM kernels receive the address as one int64 column and hash it in
the Python worker, bit-identical to the JVM's ``xxhash64(depth,
ip4_trunc(key, depth))`` (see operators/lpm.py "Key encoding"). The
build hashes every depth of a route at once (``ip4_depth_hashes``, an
(n, D) matrix); the probe hashes only the (row, depth) cells it reads
(``Ip4HashSource``: a table gather up to /16, the twin below that).

Golden behavior pinned from the reference's test suite
(/root/reference/prototype/tests.py_bak:309-349): 1.0.0.0 → /24 when
1.0.0.0/24 is in the table; 0.255.255.255 → 0 (default route, miss);
the 5-address traffic batch finds exactly 3.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

V4_BITS = 32
V6_BITS = 128


def ip4_from_dotted(ip_str_col):
    """'1.2.3.4' → uint32 as LongType (JVM-side)."""
    o = F.split(ip_str_col, r"\.")
    return (
        o[0].cast("long") * 16777216
        + o[1].cast("long") * 65536
        + o[2].cast("long") * 256
        + o[3].cast("long")
    )


def ip4_bits(ip_col, nbits=V4_BITS):
    """Array of the address's bits, most-significant first. Uses
    floor(ip / 2^k) % 2 — exact in double for ip < 2^53, so safe for v4;
    v6 uses nibble arithmetic instead (see ip6_bits)."""
    return F.transform(
        F.sequence(F.lit(1), F.lit(nbits)),
        lambda i: (F.floor(ip_col / F.pow(F.lit(2.0), (F.lit(nbits) - i).cast("double"))).cast("long") % 2),
    )


def ip6_bits(hex_col):
    """Array of 128 bits from a 32-char lowercase hex string (the
    canonical fixed-width v6 form) — nibble-exact, no doubles."""
    return F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.lit(32)),
            lambda j: F.transform(
                F.sequence(F.lit(3), F.lit(0), F.lit(-1)),
                lambda b: (
                    F.floor(F.conv(F.substring(hex_col, j, 1), 16, 10).cast("long") / F.pow(F.lit(2.0), b.cast("double"))).cast("long") % 2
                ),
            ),
        )
    )


def _bits_to_path(bits_col, depth=None):
    sl = bits_col if depth is None else F.slice(bits_col, 1, depth)
    return F.array_join(F.transform(sl, lambda b: b.cast("string")), "/")


def ip4_to_bitpath(ip_col):
    """uint32 (long col) → 32-component bit path '1/0/0/...'."""
    return _bits_to_path(ip4_bits(ip_col))


def ip6_to_bitpath(hex_col):
    return _bits_to_path(ip6_bits(hex_col))


def parse_cidr4(cidr_col):
    """'1.0.0.0/24' → struct(prefix_path, depth): the PathLPM route row."""
    ip = ip4_from_dotted(F.split(cidr_col, "/")[0])
    plen = F.split(cidr_col, "/")[1].cast("int")
    return F.struct(
        _bits_to_path(ip4_bits(ip), plen).alias("prefix"),
        plen.alias("depth"),
    )


def ip4_trunc(key_col, depth):
    """The IPv4 LPM domain's truncation: key → masked decimal-string key
    at ``depth`` (int or Column). Plugs into ``PathLPM.build(trunc=...)``
    / ``lookup(trunc=...)`` so v4 keys are three integer ops per depth
    instead of a 32-component bit-string build + split + rejoin. The
    key may be a long, int or decimal-string column: the first step is
    ``cast(key as long)``. pow(2, 32-d) is exact in double through
    2^31, so the mask arithmetic is exact for all v4 depths.

    This is the JVM definition of the domain: ``exact_lpm`` and the
    ``lpm_prefix`` column use it, and ``ip4_depth_hashes`` reproduces
    its key hash bit for bit, so the LPM kernels hash v4 keys in the
    Python worker instead of receiving one hash column per depth."""
    d = depth if hasattr(depth, "cast") else F.lit(depth)
    ip = key_col.cast("long")
    p2 = F.pow(F.lit(2.0), (F.lit(V4_BITS) - d).cast("double")).cast("long")
    return (ip - (ip % p2)).cast("long").cast("string")


# ---------------------------------------------------------------------------
# The v4 key hash in numpy: Spark's xxhash64(int d, string decimal(ip & mask_d))
# ---------------------------------------------------------------------------
_U = np.uint64
# XXH64 primes, as in Spark's org.apache.spark.sql.catalyst.expressions.XXH64
_P1, _P2, _P3, _P4, _P5 = (
    _U(p) for p in (0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9, 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5)
)
_SPARK_XXHASH_SEED = 42
_POW10 = np.array([10**i for i in range(10)], dtype=np.uint64)
# v < 10^4 → its 4 zero-padded ASCII digits, the most significant in the
# lowest byte: the little-endian int XXH64 reads from those 4 bytes
_ASCII4 = sum(((np.arange(10_000) // 10 ** (3 - i)) % 10 + 0x30) << (8 * i) for i in range(4)).astype(np.uint64)
# the 8-digit word times P2, by its halves: word = first4 | next4 << 32,
# so word * P2 = first4 * P2 + (next4 << 32) * P2 (mod 2^64); and each
# ASCII digit's byte times P5
with np.errstate(over="ignore"):
    _FIRST4_P2 = _ASCII4 * _P2
    _NEXT4_P2 = (_ASCII4 << _U(32)) * _P2
    _DIGIT_P5 = (np.arange(10, dtype=np.uint64) + _U(0x30)) * _P5
# rows x depths per block of ip4_depth_hashes: 128 KB temporaries stay in
# L2 and under numpy's 256 KB temporary-elision threshold, whose check is
# a costly stack walk on every larger binary op
_HASH_BLOCK = 1 << 14


def _rotl(x, r: int):
    return (x << _U(r)) | (x >> _U(64 - r))


def _fmix(h):
    h = (h ^ (h >> _U(33))) * _P2
    h = (h ^ (h >> _U(29))) * _P3
    return h ^ (h >> _U(32))


def _xxh64_depth_seeds(depths) -> np.ndarray:
    """``xxhash64(int d)`` per depth: XXH64's 4-byte int hash of d under
    Spark's seed, which is the seed the key string is then hashed with
    (Spark folds ``xxhash64(a, b)`` left to right) and the whole hash of
    a null key."""
    d = np.asarray(depths, dtype=np.uint64)
    with np.errstate(over="ignore"):
        h = (_U(_SPARK_XXHASH_SEED) + _P5 + _U(4)) ^ (d * _P1)
        return _fmix(_rotl(h, 23) * _P2 + _P3)


def _xxh64_digits8_10(t, seed):
    """XXH64 of the decimal strings of 10^7 <= t < 10^10 (8-10 digits):
    one 8-byte word (the first 8 digits), then 0-2 single bytes. Both
    byte steps are computed for every cell and kept where the string has
    that byte; the word's first multiply and every byte's are table
    gathers (``_FIRST4_P2``, ``_NEXT4_P2``, ``_DIGIT_P5``). Few numpy
    ops per call matters as much as few per cell: the probe's hash
    source calls this on a few thousand cells at a time."""
    ge9 = t >= _POW10[8]
    ge10 = t >= _POW10[9]
    t10 = t // _U(10)
    t100 = t10 // _U(10)
    first8 = np.where(ge10, t100, np.where(ge9, t10, t))  # t // 10^(len - 8)
    hi = first8 // _U(10_000)
    word_p2 = _FIRST4_P2[hi.astype(np.intp)] + _NEXT4_P2[(first8 - hi * _U(10_000)).astype(np.intp)]
    h = seed + _P5 + _U(8) + ge9 + ge10
    h ^= _rotl(word_p2, 31) * _P1
    h = _rotl(h, 27) * _P1 + _P4
    for digit, present in ((t10 - t100 * _U(10), ge10), (t - t10 * _U(10), ge9)):
        step = _rotl(h ^ _DIGIT_P5[digit.astype(np.intp)], 11) * _P1
        h = np.where(present, step, h)
    return _fmix(h)


def _xxh64_digits1_7(t, seed):
    """XXH64 of the decimal strings of t < 10^7 (1-7 digits): for 4+
    digits one 4-byte int (the first 4), then 0-3 single bytes. The
    rare complement of ``_xxh64_digits8_10``: only a truncation with a
    zero first octet is this short."""
    n = np.searchsorted(_POW10[1:], t, side="right") + 1  # digit count
    h = seed + _P5 + n.astype(np.uint64)
    four = n >= 4
    first4 = t[four] // _POW10[n[four] - 4]
    h[four] = _rotl(h[four] ^ (_ASCII4[first4] * _P1), 23) * _P2 + _P3
    left = np.where(four, n - 4, n)  # digits for the byte loop, in order
    for i in (2, 1, 0):
        step = _rotl(h ^ ((t // _POW10[i] % _U(10) + _U(0x30)) * _P5), 11) * _P1
        h = np.where(left > i, step, h)
    return _fmix(h)


def _twin(t, seeds):
    """XXH64 of the decimal strings of truncations ``t`` (uint64, each
    below 2^32) under ``seeds`` (broadcastable to ``t``): the 8-10 digit
    hash for every cell, redone for the rare cells under 10^7."""
    h = _xxh64_digits8_10(t, seeds)
    short = t < _POW10[7]
    if short.any():
        h[short] = _xxh64_digits1_7(t[short], np.broadcast_to(seeds, t.shape)[short])
    return h


def ip4_depth_hashes(keys: np.ndarray, depths) -> np.ndarray:
    """(n, D) uint64 key hashes of int64 v4 ``keys`` at each depth, bit
    for bit the values ``lpm._depth_hashes(key, depths, ip4_trunc)``
    computes JVM-side: ``xxhash64(int d, string(key & mask_d))``. A key
    of -1 stands for null and hashes to the per-depth seed, as
    ``xxhash64(d, NULL)`` does. Keys must lie in [-1, 2^32) (see
    ``ip4_key_array``), so every truncation has 1-10 digits. The eager
    matrix the build's BMP read takes, and the reference the probe's
    per-cell ``Ip4HashSource`` is checked against."""
    depths = np.asarray(depths, dtype=np.uint64)
    seeds = _xxh64_depth_seeds(depths)
    masks = (_U(0xFFFFFFFF) << (_U(V4_BITS) - depths)) & _U(0xFFFFFFFF)
    k = np.asarray(keys, dtype=np.int64).view(np.uint64)
    out = np.empty((len(k), len(depths)), dtype=np.uint64)
    rows = max(1, _HASH_BLOCK // max(len(depths), 1))
    with np.errstate(over="ignore"):
        for s in range(0, len(k), rows):
            out[s : s + rows] = _twin(k[s : s + rows, None] & masks, seeds)
    out[np.asarray(keys) < 0] = seeds
    return out


#: depths whose every truncation is hashed ahead into an
#: ``Ip4HashSource`` table: 2^d + 1 entries each, 512 KiB at /16
_TABLE_DEPTH = 16
#: a null key as the source holds it: one past the last address, so at
#: table depth d it indexes entry 2^d, the null slot
_NULL_KEY = _U(1 << V4_BITS)


class Ip4HashSource:
    """The v4 key hashes of the LPM probe, one cell at a time: for a
    batch of keys bound with ``bind``, ``src(rows, cols)`` equals
    ``ip4_depth_hashes(keys, depths)[rows, cols]`` bit for bit, but
    hashes only the cells a kernel reads (about 5.5 of 17 per row on a
    BGP table) instead of every depth of every row.

    Built once per probe task. A depth up to ``_TABLE_DEPTH`` has at
    most 2^d truncations, so all of them are hashed here, into one table
    per such depth (a /8-/16 BGP mix holds 9 of them in 1 MiB), and its
    cells are a gather by the key's top d bits. A deeper cell is
    twin-hashed on demand with its depth's seed and mask."""

    def __init__(self, depths):
        d = np.asarray(depths, dtype=np.int64)
        self.seeds = _xxh64_depth_seeds(d)
        self.masks = (_U(0xFFFFFFFF) << (_U(V4_BITS) - d.astype(np.uint64))) & _U(0xFFFFFFFF)
        self.deep = d > _TABLE_DEPTH
        # one table per shallow depth, then one spare entry: entry i of
        # depth d's table hashes i << (32 - d), and entry 2^d a null key
        tables = [
            ip4_depth_hashes(np.append(np.arange(1 << int(x), dtype=np.int64) << (V4_BITS - int(x)), -1), [x])[:, 0]
            for x in d[~self.deep]
        ]
        self.table = np.concatenate([*tables, np.zeros(1, dtype=np.uint64)])
        self.off = np.full(len(d), len(self.table) - 1, dtype=np.uint64)
        self.off[~self.deep] = np.cumsum([0] + [len(t) for t in tables[:-1]])
        # a deep column's shift sends every key to the spare entry, and
        # the twin overwrites those cells
        self.shift = np.where(self.deep, V4_BITS + 1, V4_BITS - d).astype(np.uint64)

    def bind(self, keys: np.ndarray):
        """``src(rows, cols)`` over int64 ``keys`` (null as -1, as
        ``ip4_key_array`` gives them): the uint64 hashes of the cells
        (rows[i], cols[i]). ``cols`` may be one column for every row."""
        k = np.where(keys < 0, _NULL_KEY, keys.astype(np.uint64))
        has_null = bool((keys < 0).any())

        def deep_cells(kr, col):
            with np.errstate(over="ignore"):
                h = _twin(kr & self.masks[col], self.seeds[col])
            if has_null:
                null = kr == _NULL_KEY
                h[null] = np.broadcast_to(self.seeds[col], h.shape)[null]
            return h

        def src(rows, cols):
            kr = k[rows]
            if np.ndim(cols) == 0:
                if self.deep[cols]:
                    return deep_cells(kr, cols)
                return self.table[self.off[cols] + (kr >> self.shift[cols])]
            out = self.table[self.off[cols] + (kr >> self.shift[cols])]
            deep = np.nonzero(self.deep[cols])[0]
            if len(deep):
                out[deep] = deep_cells(kr[deep], cols[deep])
            return out

        return src


def ip4_key_array(arr, name: str) -> np.ndarray:
    """One batch of a v4 key column as shipped to an LPM kernel (an Arrow
    int64 array, nulls allowed) → int64 numpy with null as -1. Raises
    ``ValueError`` naming the column ``name`` on a key outside
    [0, 2^32): such a key is no IPv4 address, and its mask truncation
    would answer it silently."""
    import pyarrow.compute as pc

    lo, hi = (v.as_py() for v in pc.min_max(arr).values())
    if lo is not None and (lo < 0 or hi >= 1 << V4_BITS):
        raise ValueError(
            f"IPv4 key column {name!r} holds {lo if lo < 0 else hi}, outside [0, 2^32): "
            "keys must be uint32 addresses"
        )
    return pc.fill_null(arr, -1).to_numpy()


def cidr4_route_table(cidrs: DataFrame, cidr_col: str = "cidr") -> DataFrame:
    """CIDR-string table → PathLPM (prefix, depth) table in the numeric
    key domain: prefix = masked address as a decimal string."""
    ip = ip4_from_dotted(F.split(F.col(cidr_col), "/")[0])
    plen = F.split(F.col(cidr_col), "/")[1].cast("int")
    return cidrs.select(
        ip4_trunc(ip.cast("string"), plen).alias("prefix"), plen.alias("depth")
    ).distinct()


def cidr4_bitpath_table(cidrs: DataFrame, cidr_col: str = "cidr") -> DataFrame:
    """CIDR-string table → (prefix, depth) in the '/'-joined bit-path
    domain — the form ``exact_lpm`` (the path-domain oracle) consumes."""
    p = parse_cidr4(F.col(cidr_col))
    return cidrs.select(p["prefix"].alias("prefix"), p["depth"].alias("depth")).distinct()


def build_ip4_lpm(cidrs: DataFrame, cidr_col: str = "cidr", **build_kw):
    """Build a guided LPM engine over an IPv4 CIDR route table (numeric
    key domain — pair lookups with ``lookup_ip4``)."""
    from ip_filter_spark.operators.lpm import PathLPM

    return PathLPM.build(cidr4_route_table(cidrs, cidr_col), trunc=ip4_trunc, **build_kw)


def lookup_ip4(
    engine, traffic: DataFrame, ip_col: str = "ip", mode: str = "guided", exact_repair=None
) -> DataFrame:
    """LPM every uint32 address in ``traffic``: adds lpm_depth (matched
    prefix length, 0 = default route) and lpm_prefix_ip (the matched
    prefix's masked address as a long, null on miss). The engine must
    have been built in the numeric key domain (``build_ip4_lpm`` or
    ``PathLPM.build(trunc=ip4_trunc)``). ``ip_col`` may be long, int or
    a decimal string; it is cast to long and crosses into the probe
    kernel as one int64 column, hashed there by ``ip4_depth_hashes``. A
    null address answers depth 0; an address outside [0, 2^32) fails the
    action with a ``ValueError`` naming ``ip_col``. ``exact_repair``: the
    numeric route table (``cidr4_route_table``) to close the FIB's
    64-bit collision window exactly (see operators/lpm.py module
    docstring)."""
    out = engine.lookup(
        traffic, path_col=ip_col, mode=mode, trunc=ip4_trunc, exact_repair=exact_repair
    )
    return out.withColumn(
        "lpm_prefix_ip", F.when(F.col("lpm_depth") > 0, F.col("lpm_prefix").cast("long"))
    ).drop("lpm_prefix")


def format_ip4(ip_col):
    """uint32 long → dotted-quad string (for reports / parity checks)."""
    c = F.col(ip_col) if isinstance(ip_col, str) else ip_col
    octets = [
        F.floor(c / 16777216).cast("long"),
        (F.floor(c / 65536) % 256).cast("long"),
        (F.floor(c / 256) % 256).cast("long"),
        (c % 256).cast("long"),
    ]
    return F.concat_ws(".", *[o.cast("string") for o in octets])


def ip6_trunc(key_col, depth):
    """The IPv6 LPM domain's truncation: canonical 32-char lowercase hex
    key → masked, zero-padded 32-char hex key at ``depth`` (int or
    Column). Whole nibbles are kept with substr; the one partial nibble
    is masked via conv(hex→dec), integer mask, conv(dec→hex) — no
    128-element bit arrays anywhere (the bit-path form costs ~128
    transform ops per row; this is ~6 string/int ops)."""
    d = depth if hasattr(depth, "cast") else F.lit(depth)
    fullnib = F.floor(d / 4).cast("int")
    rem = (d % 4).cast("int")
    head = key_col.substr(F.lit(1), fullnib)
    nib = F.conv(key_col.substr(fullnib + F.lit(1), F.lit(1)), 16, 10).cast("long")
    keep = F.pow(F.lit(2.0), (F.lit(4) - rem).cast("double")).cast("long")
    # r6: dec->hex via native hex() (identical output for 0..15; the
    # hex->dec parse above stays conv, which accepts either case)
    nibhex = F.lower(F.hex(nib - (nib % keep)))
    return F.rpad(F.when(rem > 0, F.concat(head, nibhex)).otherwise(head), 32, "0")


def ip6_route_table(routes: DataFrame, hex_col: str = "h", plen_col: str = "depth") -> DataFrame:
    """(32-char hex, prefix_len) table → PathLPM (prefix, depth) in the
    masked-hex key domain."""
    return routes.select(
        ip6_trunc(F.col(hex_col), F.col(plen_col)).alias("prefix"),
        F.col(plen_col).cast("int").alias("depth"),
    ).distinct()


def build_ip6_lpm(routes: DataFrame, hex_col: str = "h", plen_col: str = "depth", **build_kw):
    """Guided LPM engine over IPv6 routes given as canonical 32-char
    lowercase hex + prefix length (masked-hex key domain; pair with
    ``lookup_ip6``)."""
    from ip_filter_spark.operators.lpm import PathLPM

    return PathLPM.build(ip6_route_table(routes, hex_col, plen_col), trunc=ip6_trunc, **build_kw)


def lookup_ip6(
    engine, traffic: DataFrame, hex_col: str = "h", mode: str = "guided", exact_repair=None
) -> DataFrame:
    """LPM every v6 address (canonical 32-char lowercase hex) in
    ``traffic``: adds lpm_depth and lpm_prefix_hex (masked 32-char hex of
    the matched prefix, null on miss). ``exact_repair``: the hex-domain
    route table (``ip6_route_table``) closes the FIB's 64-bit collision
    window exactly, same as the v4 and path domains."""
    out = engine.lookup(
        traffic, path_col=hex_col, mode=mode, trunc=ip6_trunc, exact_repair=exact_repair
    )
    return out.withColumnRenamed("lpm_prefix", "lpm_prefix_hex")
