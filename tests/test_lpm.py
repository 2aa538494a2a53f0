"""Guided-LPM tests, mirroring the reference's strategy (SURVEY.md §5):
golden fixture lookups (tests.py_bak:309-349 analog), fallback ≡ linear
(:351-394), and the triple-agreement oracle guided ≡ linear ≡ exact
(:396-445) — strengthened here to per-row equality, not just counts."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from ip_filter_spark.operators.lpm import PathLPM, derive_prefix_table, exact_lpm
from ip_filter_spark.plans.obst import GuideTree
from ip_filter_spark.sources.corpus import synthesize_corpus

# 8-route fixture shaped like the reference's 8-prefix test table
# (tests.py_bak:33-39: includes nested routes and depth gaps)
FIXTURE_ROUTES = [
    ("a", 1),
    ("a/b", 2),
    ("a/b/c", 3),
    ("x", 1),
    ("x/y/z/w", 4),
    ("q/r", 2),
    ("m/n/o", 3),
    ("a/k", 2),
]

# traffic fixture: like tests.py_bak:339-349, 3 of 5 match
FIXTURE_QUERIES = [
    ("a/b/c/file.py", 3),  # matches a/b/c
    ("a/k/deep/file.c", 2),  # matches a/k
    ("zz/top/none", 0),  # default route
    ("x/y/z/w", 4),  # exact full-path route
    ("q/other", 0),  # q alone is not a route
]


@pytest.fixture(scope="module")
def fixture_lpm(spark):
    pdf = spark.createDataFrame(FIXTURE_ROUTES, "prefix string, depth int")
    return PathLPM.build(pdf, num_partitions=4)


def test_obst_shape():
    t = GuideTree.balanced([1, 2, 3, 4])
    assert t.height() <= 3
    assert sorted(t.val.tolist()) == [1, 2, 3, 4]
    # walk reaches each key, EQ-terminated
    for k in [1, 2, 3, 4]:
        w = t.walk(k)
        assert w[-1] == (k, "EQ")
    # skewed weights pull the hot key to the root
    t2 = GuideTree.from_weights([1, 2, 3, 4], [0.01, 0.01, 0.01, 100.0])
    assert int(t2.val[t2.root]) == 4


def test_lpm_goldens_guided_and_linear(spark, fixture_lpm):
    q = spark.createDataFrame([(p,) for p, _ in FIXTURE_QUERIES], "path string")
    for mode in ("guided", "linear"):
        got = {r.path: r.lpm_depth for r in fixture_lpm.lookup(q, mode=mode).collect()}
        for path, want in FIXTURE_QUERIES:
            assert got[path] == want, (mode, path, got[path], want)
    n_found = sum(1 for _, d in FIXTURE_QUERIES if d > 0)
    assert n_found == 3  # 3/5 match, like the reference traffic fixture


def test_lookup_rejects_unknown_mode(spark, fixture_lpm):
    """An unknown mode is a ValueError, not an ``assert`` that
    ``python -O`` strips (which would silently run the linear scan)."""
    q = spark.createDataFrame([("a/b",)], "path string")
    with pytest.raises(ValueError, match="mode must be 'guided' or 'linear', got 'fast'"):
        fixture_lpm.lookup(q, mode="fast")


def test_exact_lpm_oracle(spark):
    pdf = spark.createDataFrame(FIXTURE_ROUTES, "prefix string, depth int")
    q = spark.createDataFrame([(p,) for p, _ in FIXTURE_QUERIES], "path string")
    got = {r.path: r.lpm_depth for r in exact_lpm(q, pdf).collect()}
    for path, want in FIXTURE_QUERIES:
        assert got[path] == want


def test_lpm_prefix_column(spark, fixture_lpm):
    q = spark.createDataFrame([("a/b/c/file.py",), ("zz/none",)], "path string")
    rows = {r.path: r.lpm_prefix for r in fixture_lpm.lookup(q).collect()}
    assert rows["a/b/c/file.py"] == "a/b/c"
    assert rows["zz/none"] is None


def test_triple_agreement_on_corpus(spark):
    """guided ≡ linear ≡ exact, per-row, on a synthetic corpus — the
    reference's big oracle (tests.py_bak:396-445) strengthened."""
    corpus = synthesize_corpus(spark, 3000, n_repos=30, seed=11, num_partitions=4).cache()
    routes = derive_prefix_table(corpus.withColumn("path", F.concat_ws("/", "repo", "path")), max_depth=3)
    lpm = PathLPM.build(routes, num_partitions=4)
    queries = corpus.select(F.concat_ws("/", "repo", "path").alias("path")).limit(1000).cache()

    exact = {r.path: r.lpm_depth for r in exact_lpm(queries, routes).collect()}
    guided_rows = lpm.lookup(queries, mode="guided").collect()
    guided = {r.path: r.lpm_depth for r in guided_rows}
    linear = {r.path: r.lpm_depth for r in lpm.lookup(queries, mode="linear").collect()}

    assert guided == exact
    assert linear == exact
    # guided must actually save probes vs linear on average
    g_bits = np.mean([r.bit_lookups for r in guided_rows])
    l_bits = np.mean([r.bit_lookups for r in lpm.lookup(queries, mode="linear").collect()])
    assert g_bits < l_bits, (g_bits, l_bits)


def test_lpm_serialization_roundtrip(spark, fixture_lpm):
    blob = fixture_lpm.to_bytes()
    back = PathLPM.from_bytes(blob)
    assert back.to_bytes() == blob
    q = spark.createDataFrame([(p,) for p, _ in FIXTURE_QUERIES], "path string")
    got = {r.path: r.lpm_depth for r in back.lookup(q).collect()}
    for path, want in FIXTURE_QUERIES:
        assert got[path] == want


def test_local_and_distributed_build_byte_identical(spark):
    """The adaptive small-table build (driver-local numpy pass over the
    insert rows) must produce the exact same filter bytes as the
    distributed partials -> tree_merge path it replaces; forcing
    local_build_max_inserts=0 exercises the distributed branch on the
    same routes."""
    from ip_filter_spark.operators.lpm import PathLPM, derive_prefix_table
    from ip_filter_spark.sources.corpus import synthesize_corpus

    corpus = synthesize_corpus(spark, 2000, n_repos=50, seed=3)
    routes = derive_prefix_table(corpus, max_depth=3)
    local = PathLPM.build(routes, num_partitions=4)
    dist = PathLPM.build(routes, num_partitions=4, local_build_max_inserts=0)
    assert local.to_bytes() == dist.to_bytes()


def test_arrow_int64_view_paths():
    """The mapInArrow probe's uint64 view must round-trip signed Arrow
    int64 values bit-exactly on dense, sliced, and chunked arrays."""
    import numpy as np
    import pyarrow as pa

    from ip_filter_spark.arrow import uint64_view

    vals = [0, 1, -1, 2**63 - 1, -(2**63), 42, -12345]
    expect = np.array(vals, dtype=np.int64).view(np.uint64)

    dense = pa.array(vals, type=pa.int64())
    assert (uint64_view(dense) == expect).all()
    assert (uint64_view(dense.slice(2, 4)) == expect[2:6]).all()
    chunked = pa.chunked_array([pa.array(vals[:3], type=pa.int64()), pa.array(vals[3:], type=pa.int64())])
    assert (uint64_view(chunked) == expect).all()
    assert uint64_view(pa.array([], type=pa.int64())).shape == (0,)


def test_exact_repair_fixes_forced_fib_collision(spark):
    """The 64-bit FIB window, closed end-to-end: corrupt an engine by
    inserting a NON-route key's h64 into both the FIB and the filter
    (simulating an xxhash64 collision with a stored route), confirm the
    kernel then reports the phantom depth, and verify that
    ``lookup(..., exact_repair=routes)`` restores the exact answer."""
    import numpy as np

    from ip_filter_spark.operators.lpm import PathLPM, _h64_expr, _trunc
    from pyspark.sql import functions as F

    routes = spark.createDataFrame(
        [("a", 1), ("a/b", 2)], "prefix string, depth int"
    )
    queries = spark.createDataFrame([("a/x/q1",)], "path string")
    eng = PathLPM.build(routes, num_partitions=2)

    clean = eng.lookup(queries, mode="linear").select("path", "lpm_depth", "lpm_prefix").first()
    assert clean.lpm_depth == 1 and clean.lpm_prefix == "a"

    # forge a collision: pretend the depth-2 truncation "a/x" hashes to a
    # value present in the FIB by inserting its real h64 as if it were a
    # route (FIB + all k Bloom hashes — exactly what a collision looks
    # like to the kernel)
    h = queries.select(_h64_expr(_trunc(F.col("path"), 2), 2).alias("h")).first().h
    hu = np.array([h], dtype=np.int64).view(np.uint64)
    eng.fib = np.sort(np.concatenate([eng.fib, hu]))
    eng.bf.insert_hashes(hu)

    wrong = eng.lookup(queries, mode="linear").select("lpm_depth", "lpm_prefix").first()
    assert wrong.lpm_depth == 2 and wrong.lpm_prefix == "a/x"  # phantom route

    repaired = (
        eng.lookup(queries, mode="linear", exact_repair=routes)
        .select("path", "lpm_depth", "lpm_prefix")
        .first()
    )
    assert repaired.lpm_depth == 1 and repaired.lpm_prefix == "a"
    # guided mode goes through the same repair path
    repaired_g = (
        eng.lookup(queries, mode="guided", exact_repair=routes)
        .select("lpm_depth", "lpm_prefix")
        .first()
    )
    assert repaired_g.lpm_depth == 1 and repaired_g.lpm_prefix == "a"


def _persisted_ids(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_failed_build_releases_route_cache(spark):
    """An empty route table raises ValueError, and the route table the
    build cached is released on that exit too."""
    before = _persisted_ids(spark)
    empty = spark.createDataFrame([], "prefix string, depth int")
    with pytest.raises(ValueError, match="empty"):
        PathLPM.build(empty, num_partitions=2)
    assert _persisted_ids(spark) <= before


def test_build_keeps_caller_cache(spark):
    """A route table the caller cached stays cached: the build pins only
    what it persisted itself, and releases only that."""
    routes = spark.createDataFrame(FIXTURE_ROUTES + [("cached/only", 2)], "prefix string, depth int").cache()
    routes.count()
    level = routes.storageLevel
    PathLPM.build(routes, num_partitions=2)
    assert routes.storageLevel == level
    routes.unpersist()


def test_fib_bound_is_a_value_error(spark, monkeypatch):
    """The FIB design bound is a ValueError (not an ``assert``, which
    ``python -O`` strips), raised before the insert pass and leaving
    nothing persisted."""
    from ip_filter_spark.operators import lpm

    monkeypatch.setattr(lpm, "MAX_FIB_ROUTES", 2)
    before = _persisted_ids(spark)
    routes = spark.createDataFrame([("a", 1), ("a/b", 2), ("x", 1)], "prefix string, depth int")
    with pytest.raises(ValueError, match="shard the route table per depth-1 prefix"):
        PathLPM.build(routes, num_partitions=2)
    assert _persisted_ids(spark) <= before


# nested IPv4 table: BMPs at /8, /12, /16, /24 and /25, and routes with none
NESTED_CIDRS = [
    "10.0.0.0/8", "10.1.0.0/16", "10.1.2.0/24", "10.1.2.128/25", "10.1.2.129/32",
    "10.2.0.0/16", "10.1.3.0/24", "172.16.0.0/12", "172.16.5.0/24", "172.31.255.0/28",
    "192.168.0.0/16", "192.168.1.0/24", "192.168.1.64/26", "8.8.8.0/24", "1.0.0.0/22", "203.0.113.0/24",
]
# sha256(to_bytes()) of the engines built from NESTED_CIDRS and
# FIXTURE_ROUTES, pinned when the BMP came from a self-join of the route
# table: the FIB-read BMP must plant exactly the same bits
GOLDEN_V4_SHA = "c3a53403dd4804fcf9c0fab4ea2a4be121275f429c5a2652780b5d5fa96d2fa0"
GOLDEN_PATH_SHA = "e11fa98f454838a83eea612d79efdccf291db3749be1baa3bc27aa74f48b088b"


@pytest.mark.parametrize("branch", ["local", "distributed", "routes_fit"])
def test_build_golden_bytes(spark, branch):
    """Both build branches reproduce the pinned bytes. ``routes_fit``
    sets the insert threshold to the route count: the routes fit under
    it but their inserts (markers, pointers) do not, so the distributed
    branch runs."""
    import hashlib

    from ip_filter_spark.operators.cidr import build_ip4_lpm

    def threshold(n_routes):
        return {"local": 1_000_000, "distributed": 0, "routes_fit": n_routes}[branch]

    cidrs = spark.createDataFrame([(c,) for c in NESTED_CIDRS], "cidr string")
    v4 = build_ip4_lpm(cidrs, num_partitions=3, local_build_max_inserts=threshold(len(NESTED_CIDRS)))
    assert hashlib.sha256(v4.to_bytes()).hexdigest() == GOLDEN_V4_SHA
    paths = spark.createDataFrame(FIXTURE_ROUTES, "prefix string, depth int")
    path = PathLPM.build(paths, num_partitions=3, local_build_max_inserts=threshold(len(FIXTURE_ROUTES)))
    assert hashlib.sha256(path.to_bytes()).hexdigest() == GOLDEN_PATH_SHA


def test_nested_v4_triple_agreement(spark):
    """guided ≡ linear ≡ exact_lpm on the nested golden table, over
    addresses inside every route (its first, last and middle addresses)
    plus uniform ones."""
    from ip_filter_spark.operators.cidr import build_ip4_lpm, cidr4_route_table, ip4_trunc, lookup_ip4

    ips = set(np.random.default_rng(5).integers(0, 2**32, 200).tolist())
    for c in NESTED_CIDRS:
        addr, plen = c.split("/")
        base = int.from_bytes(bytes(int(x) for x in addr.split(".")), "big")
        span = 1 << (32 - int(plen))
        ips |= {base, base + span // 2, base + span - 1, base + span}
    cidrs = spark.createDataFrame([(c,) for c in NESTED_CIDRS], "cidr string")
    traffic = spark.createDataFrame([(ip,) for ip in sorted(ips)], "ip long")
    eng = build_ip4_lpm(cidrs, num_partitions=2)
    exact = {
        r.ip: r.lpm_depth
        for r in exact_lpm(traffic, cidr4_route_table(cidrs), path_col="ip", trunc=ip4_trunc).collect()
    }
    assert len(set(exact.values())) >= 8  # answers at many depths, misses included
    for mode in ("guided", "linear"):
        got = {r.ip: r.lpm_depth for r in lookup_ip4(eng, traffic, mode=mode).collect()}
        assert got == exact, mode


def test_unknown_weighting_is_a_value_error(spark):
    """A misspelled ``weighting`` fails loudly instead of building a guide
    tree from some other weights."""
    routes = spark.createDataFrame(FIXTURE_ROUTES, "prefix string, depth int")
    with pytest.raises(ValueError, match="weighting must be 'by_count' or 'by_share', got 'by_shares'"):
        PathLPM.build(routes, weighting="by_shares", num_partitions=2)


# sha256 of the sorted per-row (key, lpm_depth, fib_probes, fell_back)
# of each table in linear mode, and of (key, lpm_depth, fell_back) in
# guided mode, pinned when linear mode and the guided fallback had a
# scan of their own: the one deepest-first scan must make the same FIB
# confirms and fall back on the same rows. The guided fallback now asks
# the FIB directly, so its fib_probes moved by design; test_guided_
# counters_match_scalar_oracle checks them per row instead
GOLDEN_COUNTERS_SHA = {
    ("v4", "guided"): "a35963d5b5aecb7851c051969357e9e6048d6f8f6d72cbea855dfe6327f210b8",
    ("v4", "linear"): "1005e888f32c95eda55e1702493501ce4f011a50669ee598bf536ed8aae21596",
    ("path", "guided"): "adb60cc1e6798a814c2729d1f923b75c8a110ee484b6b0f9566b8f96a4004455",
    ("path", "linear"): "420099ac898c8180fe30a09474ced1ea7591ad0e80b1fff3d43d112298108174",
}


@pytest.mark.parametrize("table", ["v4", "path"])
def test_kernel_counters(spark, fixture_lpm, table):
    """Linear mode reads k Bloom bits per depth it visits, deepest first,
    down to the depth the FIB confirms: ``bit_lookups == k·(D − c)`` with
    c the column of the answer depth (0 when unmatched). The other
    counters are pinned per row in both modes."""
    import hashlib

    from ip_filter_spark.operators.cidr import build_ip4_lpm, lookup_ip4

    if table == "v4":
        ips = set(np.random.default_rng(7).integers(0, 2**32, 200).tolist())
        for c in NESTED_CIDRS:
            addr, plen = c.split("/")
            base = int.from_bytes(bytes(int(x) for x in addr.split(".")), "big")
            span = 1 << (32 - int(plen))
            ips |= {base, base + span // 2, base + span - 1, base + span}
        eng = build_ip4_lpm(spark.createDataFrame([(c,) for c in NESTED_CIDRS], "cidr string"), num_partitions=2)
        q = spark.createDataFrame([(ip,) for ip in sorted(ips)], "ip long")
        key, look = "ip", lambda mode: lookup_ip4(eng, q, mode=mode)
    else:
        paths = {p for p, _ in FIXTURE_QUERIES} | {"a/b/zz", "x/y", "x/y/z", "m/n", "q", "zz"}
        paths |= {p for p, _ in FIXTURE_ROUTES} | {f"{p}/leaf/f" for p, _ in FIXTURE_ROUTES}
        eng = fixture_lpm
        q = spark.createDataFrame([(p,) for p in sorted(paths)], "path string")
        key, look = "path", lambda mode: eng.lookup(q, mode=mode)
    k, D = eng.bf.k, len(eng.depths)
    for mode in ("guided", "linear"):
        rows = look(mode).select(key, "lpm_depth", "bit_lookups", "fib_probes", "fell_back").collect()
        if mode == "linear":
            for r in rows:
                c = eng.depths.index(r.lpm_depth) if r.lpm_depth else 0
                assert r.bit_lookups == k * (D - c), (r, k, D)
        cols = [key, "lpm_depth", "fib_probes", "fell_back"] if mode == "linear" else [key, "lpm_depth", "fell_back"]
        pinned = sorted(tuple(r[c] for c in cols) for r in rows)
        assert hashlib.sha256(repr(pinned).encode()).hexdigest() == GOLDEN_COUNTERS_SHA[table, mode], mode


def test_source_kernels_match_matrix_kernels(spark):
    """Both probe kernels give the same four outputs per row (depth,
    bit_lookups, fib_probes, fell_back) whether they read v4 key hashes
    from the per-cell ``Ip4HashSource`` or index the eager
    ``ip4_depth_hashes`` matrix, on a random batch over a table with
    depths on both sides of the source's /16 table bound."""
    from ip_filter_spark.operators.cidr import Ip4HashSource, build_ip4_lpm, ip4_depth_hashes
    from ip_filter_spark.operators.lpm import _matrix_source

    rng = np.random.default_rng(5)
    plen = rng.integers(8, 33, 400)
    base = rng.integers(1 << 24, 224 << 24, 400) & ~((1 << (32 - plen)) - 1)
    cidrs = NESTED_CIDRS + [".".join(str(int(b) >> s & 255) for s in (24, 16, 8, 0)) + f"/{p}" for b, p in zip(base, plen)]
    eng = build_ip4_lpm(spark.createDataFrame([(c,) for c in cidrs], "cidr string"), num_partitions=2)
    assert min(eng.depths) <= 16 < max(eng.depths)
    inside = base + rng.integers(0, 1 << 32, 400) % (1 << (32 - plen))
    keys = np.concatenate([[-1, 0, 2**32 - 1], inside, rng.integers(0, 2**32, 4_000)]).astype(np.int64)
    rng.shuffle(keys)
    n = len(keys)
    for kern in (eng._lookup_batch_guided, eng._lookup_batch_linear):
        want = kern(_matrix_source(ip4_depth_hashes(keys, eng.depths)), n)
        got = kern(Ip4HashSource(eng.depths).bind(keys), n)
        for w, g in zip(want, got):
            assert (w == g).all(), kern.__name__
        assert (want[0] > 0).sum() >= 400, kern.__name__
    assert want[0][keys == -1][0] == 0


def _guided_oracle(eng: PathLPM, h: list[int]) -> tuple[int, int, int, bool]:
    """One key's guided lookup, walked scalar from the reference's
    (prototype/ipfilter.py:184-238), with this package's two changes: an
    accepted hypothesis also checks the (hypothesis, hit] interval, and
    the fallback asks the FIB directly. ``h[j]`` is the key's hash at
    ``eng.depths[j]``. Returns (lpm_depth, bit_lookups, fib_probes,
    fell_back)."""
    bits, m, depths, t = eng.bf.bits, eng.bf.m, eng.depths, eng.tree
    fib = set(eng.fib.tolist())

    def bit(x: int, slot: int) -> int:
        ix = ((x & 0xFFFFFFFF) + slot * ((x >> 32) | 1)) % 2**64 % m
        return (int(bits[ix >> 3]) >> (ix & 7)) & 1

    node, n_bits, hits, hit = t.root, 0, 0, -1
    while node >= 0:  # descent on hash 0
        j = depths.index(int(t.val[node]))
        n_bits += 1
        if bit(h[j], 0):
            hits, hit, node = hits + 1, j, int(t.right[node])
        else:
            node = int(t.left[node])
    if hit < 0:
        return 0, n_bits, 0, False
    E = eng.enc_bits
    ptr = sum(bit(h[hit], hits + e) << e for e in range(E))
    n_bits += E
    hyp = depths[hit] if ptr == 2**E - 1 or ptr > len(depths) else ([0] + depths)[ptr]
    n_fib, accepted = 0, False
    if hyp > 0 and (ptr == 2**E - 1 or hyp < depths[hit]):
        n_fib += 1
        accepted = h[depths.index(hyp)] in fib
    ans, lo, cap = (hyp, depths.index(hyp), hit) if accepted else (0, -1, hit - 1)
    for j in range(cap, lo, -1):  # deepest first, FIB only
        n_fib += 1
        if h[j] in fib:
            ans = depths[j]
            break
    return ans, n_bits, n_fib, not accepted


@pytest.mark.parametrize("table", ["v4", "path"])
def test_guided_counters_match_scalar_oracle(spark, fixture_lpm, table):
    """Every guided output column equals the scalar walk's, per row:
    ``lpm_depth``, ``bit_lookups`` (descent plus pointer bits only),
    ``fib_probes`` (hypothesis plus one per depth the fallback or the
    exactness check asks) and ``fell_back``. The key hashes come from the
    JVM, independent of the kernel's own key hashing."""
    from ip_filter_spark.operators.cidr import build_ip4_lpm, ip4_trunc, lookup_ip4
    from ip_filter_spark.operators.lpm import _depth_hashes, _trunc

    if table == "v4":
        ips = set(np.random.default_rng(9).integers(0, 2**32, 300).tolist())
        for c in NESTED_CIDRS:
            addr, plen = c.split("/")
            base = int.from_bytes(bytes(int(x) for x in addr.split(".")), "big")
            ips |= {base - 1, base, base + (1 << (32 - int(plen))) - 1}
        eng = build_ip4_lpm(spark.createDataFrame([(c,) for c in NESTED_CIDRS], "cidr string"), num_partitions=2)
        q = spark.createDataFrame([(ip,) for ip in sorted(ips) if 0 <= ip < 2**32], "ip long")
        key, trunc, got = "ip", ip4_trunc, lookup_ip4(eng, q, mode="guided")
    else:
        paths = {p for p, _ in FIXTURE_QUERIES} | {"a/b/zz", "x/y", "x/y/z", "m/n", "q", "zz", "a/k/z/w/v"}
        paths |= {p for p, _ in FIXTURE_ROUTES} | {f"{p}/leaf/f" for p, _ in FIXTURE_ROUTES}
        eng = fixture_lpm
        q = spark.createDataFrame([(p,) for p in sorted(paths)], "path string")
        key, trunc, got = "path", _trunc, fixture_lpm.lookup(q, mode="guided")
    hashes = {
        r[0]: [x % 2**64 for x in r[1:]]
        for r in q.select(key, *_depth_hashes(F.col(key), eng.depths, trunc)).collect()
    }
    rows = got.select(key, "lpm_depth", "bit_lookups", "fib_probes", "fell_back").collect()
    assert len(rows) == len(hashes)
    for r in rows:
        assert tuple(r[1:]) == _guided_oracle(eng, hashes[r[key]]), r
    assert any(r.fell_back for r in rows) and any(r.lpm_depth and not r.fell_back for r in rows)


@pytest.mark.parametrize(
    "case", ["one_route", "edge_keys", "duplicates", "one_bucket", "last_bucket", "random_100k"]
)
def test_fib_directory_matches_isin(case):
    """The radix-directory FIB confirm answers exactly ``np.isin`` on
    tables that stress its bucket bounds."""
    from ip_filter_spark.operators.lpm import _fib_member, _FibIndex

    def u(*xs):
        return np.array(xs, dtype=np.uint64)

    rng = np.random.default_rng(17)
    top = np.uint64(2**64 - 1)
    rand = rng.integers(0, 2**64, 1000, dtype=np.uint64)
    if case == "one_route":
        fib = u(12345)
        probes = np.concatenate([fib, fib - np.uint64(1), fib + np.uint64(1), u(0, top), rand])
    elif case == "edge_keys":
        fib = np.sort(np.concatenate([u(0, top), rand[:500]]))
        probes = np.concatenate([u(0, top, 1, top - np.uint64(1)), rand])
        assert _fib_member(_FibIndex(fib[1:-1]), u(0, top)).tolist() == [False, False]
    elif case == "duplicates":
        fib = np.sort(np.repeat(rand[:300], 3))
        probes = np.concatenate([rand, rand + np.uint64(1)])
    elif case == "one_bucket":
        # 1k keys under one top-bits prefix: one bucket of 1k entries
        fib = np.sort(np.uint64(0xABC) << np.uint64(52) | rng.integers(0, 2**40, 1000, dtype=np.uint64))
        probes = np.concatenate([fib, fib + np.uint64(1), fib - np.uint64(1), rand])
    elif case == "last_bucket":
        fib = np.sort(np.concatenate([top - rng.integers(0, 2**50, 50, dtype=np.uint64), rand]))
        probes = np.concatenate([fib[-60:], top - rng.integers(0, 2**50, 1000, dtype=np.uint64), u(top)])
    else:
        fib = np.sort(rng.integers(0, 2**64, 100_000, dtype=np.uint64))
        probes = np.concatenate([fib, rng.integers(0, 2**64, 100_000, dtype=np.uint64)])
    probes = rng.permutation(probes)
    assert fib.dtype == probes.dtype == np.uint64
    assert (_fib_member(_FibIndex(fib), probes) == np.isin(probes, fib)).all()
    assert _fib_member(_FibIndex(fib), probes[:0]).shape == (0,)
