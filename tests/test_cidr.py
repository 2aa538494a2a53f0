"""IPv4 CIDR LPM adapter: reference golden behavior + engine agreement.

Goldens mirror /root/reference/prototype/tests.py_bak:309-349: known
address → its prefix length, unknown → default (0), 3-of-5 batch found.
"""

import pytest
from pyspark.sql import functions as F

from ip_filter_spark.operators.cidr import (
    build_ip4_lpm,
    format_ip4,
    ip4_from_dotted,
    ip4_to_bitpath,
    lookup_ip4,
)

CIDRS = [("1.0.0.0/24",), ("1.0.4.0/22",), ("192.0.0.0/2",)]
# 0.255.255.254, 192.0.0.0, 1.0.0.0, 1.0.4.0, 0.255.255.255 — 3/5 covered
TRAFFIC = [16777214, 3221225472, 16777216, 16778240, 16777215]


def test_ip4_bitpath_roundtrip(spark):
    df = spark.createDataFrame([("1.2.3.4",), ("255.255.255.255",), ("0.0.0.1",)], "s string")
    rows = df.select(ip4_from_dotted(F.col("s")).alias("ip")).collect()
    assert [r.ip for r in rows] == [16909060, 4294967295, 1]
    bp = df.select(ip4_to_bitpath(ip4_from_dotted(F.col("s"))).alias("p")).collect()
    assert bp[2].p == "/".join(["0"] * 31 + ["1"])
    back = df.select(format_ip4(ip4_from_dotted(F.col("s"))).alias("d")).collect()
    assert [r.d for r in back] == ["1.2.3.4", "255.255.255.255", "0.0.0.1"]


@pytest.mark.parametrize("mode", ["guided", "linear"])
def test_cidr_reference_goldens(spark, mode):
    cidrs = spark.createDataFrame(CIDRS, "cidr string")
    eng = build_ip4_lpm(cidrs, num_partitions=2)
    traffic = spark.createDataFrame([(ip,) for ip in TRAFFIC], "ip long")
    out = {r.ip: (r.lpm_depth, r.lpm_prefix_ip) for r in lookup_ip4(eng, traffic, mode=mode).collect()}
    assert out[16777216][0] == 24  # 1.0.0.0 → 1.0.0.0/24 (tests.py_bak:322-324)
    assert out[16777216][1] == 16777216
    assert out[16777215][0] == 0  # miss → default route (tests.py_bak:326-332)
    assert out[16777215][1] is None
    assert sum(1 for d, _ in out.values() if d > 0) == 3  # 3/5 (tests.py_bak:334-349)
    # 1.0.4.0 matches the /22, not the /24
    assert out[16778240][0] == 22


def test_cidr_guided_equals_exact(spark):
    """Triple agreement on a wider synthetic table: the numeric-key
    guided engine vs the path-domain exact oracle run on the SAME routes
    expressed as bit paths — cross-domain agreement pins both the mask
    truncation and the bit-path encoding."""
    from ip_filter_spark.operators.cidr import cidr4_bitpath_table
    from ip_filter_spark.operators.lpm import exact_lpm

    base = spark.range(200)
    rts = base.select(
        F.concat(
            ((F.col("id") * 37) % 224).cast("string"), F.lit("."),
            ((F.col("id") * 101) % 256).cast("string"), F.lit(".0.0/"),
            (F.lit(12) + (F.col("id") % 3) * 6).cast("string"),
        ).alias("cidr")
    )
    # oracle routes in the bit-path domain; engine routes numeric
    routes = cidr4_bitpath_table(rts)
    traffic = spark.range(500).select((((F.col("id") + 7) * 2654435761) % 4294967296).alias("ip"))
    q = traffic.withColumn("path", ip4_to_bitpath(F.col("ip")))
    eng = build_ip4_lpm(rts, num_partitions=2)
    guided = {r.ip: r.lpm_depth for r in lookup_ip4(eng, traffic, mode="guided").collect()}
    exact = {r.ip: r.lpm_depth for r in exact_lpm(q, routes).collect()}
    assert guided == exact


def test_ip6_bitpath_and_lpm(spark):
    """IPv6: 128-bit addresses as 32-char hex → bit paths; LPM over a
    mixed-depth v6 table (nibble-exact, no doubles)."""
    from ip_filter_spark.operators.cidr import ip6_bits, ip6_to_bitpath, _bits_to_path
    from ip_filter_spark.operators.lpm import PathLPM

    # 2001:db8::/32 → hex 20010db8 + 24 zero chars
    p32 = "20010db8" + "0" * 24
    inside = "20010db8" + "000000000000000000000001"  # 2001:db8::1
    outside = "20010db9" + "0" * 23 + "1"
    df = spark.createDataFrame([(p32,), (inside,), (outside,)], "h string")
    bits = df.select(F.size(ip6_bits(F.col("h"))).alias("n")).collect()
    assert all(r.n == 128 for r in bits)
    routes = spark.createDataFrame([(p32, 32), ("2" + "0" * 31, 4)], "h string, depth int").select(
        _bits_to_path(ip6_bits(F.col("h")), F.col("depth")).alias("prefix"), "depth"
    )
    eng = PathLPM.build(routes, num_partitions=2)
    q = spark.createDataFrame([(inside,), (outside,)], "h string").withColumn(
        "path", ip6_to_bitpath(F.col("h"))
    )
    got = {r.h: r.lpm_depth for r in eng.lookup(q, path_col="path", mode="guided").collect()}
    assert got[inside] == 32   # matches 2001:db8::/32
    assert got[outside] == 4   # falls back to the /4 covering 2xxx


def test_ip6_masked_hex_domain_agrees_with_bitpath(spark):
    """The masked-hex v6 domain (6 string/int ops per depth) must answer
    exactly like the 128-component bit-path domain on the same routes,
    including a non-nibble-aligned prefix length."""
    from ip_filter_spark.operators.cidr import (
        _bits_to_path,
        build_ip6_lpm,
        ip6_bits,
        ip6_to_bitpath,
        lookup_ip6,
    )
    from ip_filter_spark.operators.lpm import PathLPM

    p32 = "20010db8" + "0" * 24            # 2001:db8::/32
    p34 = "20010db8" + "0" * 24            # same base, /34 (non-aligned)
    p4 = "2" + "0" * 31                    # 2000::/4
    routes = spark.createDataFrame([(p32, 32), (p34, 34), (p4, 4)], "h string, depth int")
    addrs = [
        "20010db8" + "000000000000000000000001",  # inside /34 (bits 33-34 = 0)
        "20010db8" + "4" + "0" * 22 + "1",        # inside /32, outside /34 (bit 34 = 1... nibble 0100)
        "20010db9" + "0" * 23 + "1",              # inside /4 only
        "f" + "0" * 31,                           # miss entirely
    ]
    q = spark.createDataFrame([(a,) for a in addrs], "h string")

    eng_hex = build_ip6_lpm(routes, num_partitions=2)
    got_hex = {r.h: (r.lpm_depth, r.lpm_prefix_hex) for r in lookup_ip6(eng_hex, q).collect()}

    bp_routes = routes.select(_bits_to_path(ip6_bits(F.col("h")), F.col("depth")).alias("prefix"), "depth")
    eng_bp = PathLPM.build(bp_routes, num_partitions=2)
    qbp = q.withColumn("path", ip6_to_bitpath(F.col("h")))
    got_bp = {r.h: r.lpm_depth for r in eng_bp.lookup(qbp, path_col="path", mode="guided").collect()}

    assert {k: v[0] for k, v in got_hex.items()} == got_bp
    assert got_hex[addrs[0]][0] == 34
    assert got_hex[addrs[1]][0] == 32
    assert got_hex[addrs[2]][0] == 4
    assert got_hex[addrs[3]] == (0, None)
    # matched prefix comes back masked + zero-padded to canonical width
    assert got_hex[addrs[0]][1] == "20010db8" + "0" * 24


def test_exact_lpm_generalizes_to_ip_domains(spark):
    """exact_lpm with a domain trunc is a valid oracle for the numeric
    v4 and masked-hex v6 engines directly (no bit paths anywhere)."""
    from ip_filter_spark.operators.cidr import (
        build_ip6_lpm,
        cidr4_route_table,
        ip4_trunc,
        ip6_route_table,
        ip6_trunc,
        lookup_ip4,
        lookup_ip6,
    )
    from ip_filter_spark.operators.lpm import exact_lpm

    cidrs = spark.createDataFrame(CIDRS, "cidr string")
    routes4 = cidr4_route_table(cidrs)
    traffic = spark.createDataFrame([(ip,) for ip in TRAFFIC], "ip long").withColumn(
        "k", F.col("ip").cast("string")
    )
    ex4 = {int(r.k): r.lpm_depth for r in exact_lpm(traffic, routes4, path_col="k", trunc=ip4_trunc).collect()}
    eng4 = build_ip4_lpm(cidrs, num_partitions=2)
    got4 = {r.ip: r.lpm_depth for r in lookup_ip4(eng4, traffic.drop("k"), mode="guided").collect()}
    assert ex4 == got4

    p32 = "20010db8" + "0" * 24
    routes6 = ip6_route_table(
        spark.createDataFrame([(p32, 32), ("2" + "0" * 31, 4)], "h string, depth int")
    )
    q6 = spark.createDataFrame(
        [("20010db8" + "0" * 23 + "1",), ("20010db9" + "0" * 23 + "1",), ("f" + "0" * 31,)], "h string"
    )
    ex6 = {r.h: r.lpm_depth for r in exact_lpm(q6, routes6, path_col="h", trunc=ip6_trunc).collect()}
    eng6 = build_ip6_lpm(spark.createDataFrame([(p32, 32), ("2" + "0" * 31, 4)], "h string, depth int"), num_partitions=2)
    got6 = {r.h: r.lpm_depth for r in lookup_ip6(eng6, q6).collect()}
    assert ex6 == got6


def test_ip4_exact_repair_and_blob_version(spark):
    """exact_repair in the NUMERIC key domain: forge a 64-bit FIB
    collision (a non-route masked key inserted into FIB + filter) and
    verify lookup_ip4(..., exact_repair=routes) restores the true
    answer; plus the v1-blob version error is a clear ValueError."""
    import numpy as np
    import pytest as _pytest
    from pyspark.sql import functions as F

    from ip_filter_spark.operators.cidr import (
        build_ip4_lpm,
        cidr4_route_table,
        ip4_trunc,
        lookup_ip4,
    )
    from ip_filter_spark.operators.lpm import PathLPM, _h64_expr

    cidrs = spark.createDataFrame([("10.0.0.0/8",), ("10.1.0.0/16",)], "cidr string")
    routes = cidr4_route_table(cidrs)
    eng = build_ip4_lpm(cidrs)
    # 10.2.3.4 -> /8 route only
    ip = (10 << 24) + (2 << 16) + (3 << 8) + 4
    traffic = spark.createDataFrame([(ip,)], "ip long")
    clean = lookup_ip4(eng, traffic, mode="linear").first()
    assert clean.lpm_depth == 8

    # forge: pretend the /16 truncation of this ip (10.2.0.0, NOT a route)
    # collided with a stored route hash
    h = traffic.select(_h64_expr(ip4_trunc(F.col("ip"), 16), 16).alias("h")).first().h
    hu = np.array([h], dtype=np.int64).view(np.uint64)
    eng.fib = np.sort(np.concatenate([eng.fib, hu]))
    eng.bf.insert_hashes(hu)
    wrong = lookup_ip4(eng, traffic, mode="linear").first()
    assert wrong.lpm_depth == 16  # phantom /16
    fixed = lookup_ip4(eng, traffic, mode="linear", exact_repair=routes).first()
    assert fixed.lpm_depth == 8 and fixed.lpm_prefix_ip == (10 << 24)

    # stale v1 blob fails loudly, not as a corrupt read
    blob = bytearray(eng.to_bytes())
    blob[5:6] = b"1"  # IFLPM2 -> IFLPM1
    with _pytest.raises(ValueError, match="incompatible PathLPM blob version"):
        PathLPM.from_bytes(bytes(blob))
    with _pytest.raises(ValueError, match="not a PathLPM blob"):
        PathLPM.from_bytes(b"garbage")


def test_ip4_twin_matches_jvm_hash(spark):
    """The worker-side v4 key hash equals the JVM's ``_depth_hashes(key,
    depths, ip4_trunc)`` bit for bit: every depth 0-32, keys at every
    decimal-length boundary, 100k random uint32 keys, and a null key,
    which hashes to the per-depth seed ``xxhash64(d)`` (so a null
    address keeps ``lpm_depth = 0``)."""
    import numpy as np
    import pyarrow as pa

    from ip_filter_spark.operators.cidr import ip4_depth_hashes, ip4_key_array, ip4_trunc
    from ip_filter_spark.operators.lpm import _depth_hashes

    depths = list(range(33))
    edges = sorted({0, 2**32 - 1, *(10**e + o for e in range(1, 10) for o in (-1, 0))})
    rand = spark.range(100_000, numPartitions=4).select(F.pmod(F.xxhash64("id", F.lit(7)), F.lit(2**32)).alias("ip"))
    keys = (
        spark.createDataFrame([(k,) for k in edges] + [(None,)], "ip long")
        .unionByName(rand)
        .select("ip", *_depth_hashes(F.col("ip"), depths, ip4_trunc))
    )
    pdf = keys.toPandas()
    jvm = pdf[[f"__h{j}" for j in range(len(depths))]].to_numpy().astype(np.int64).view(np.uint64)
    twin = ip4_depth_hashes(ip4_key_array(pa.Array.from_pandas(pdf["ip"]).cast(pa.int64()), "ip"), depths)
    assert len(pdf) == len(edges) + 1 + 100_000
    assert int((twin != jvm).sum()) == 0
    null = pdf["ip"].isna().to_numpy()
    seeds = spark.range(1).select(*[F.xxhash64(F.lit(d)).alias(f"s{d}") for d in depths]).first()
    assert (twin[null] == np.array(list(seeds), dtype=np.int64).view(np.uint64)).all()


def test_ip4_hash_source_matches_eager_matrix():
    """The probe's per-cell hash source equals the eager
    ``ip4_depth_hashes`` matrix bit for bit, on 150k random (row, depth)
    cells over every depth 0-32 (table depths up to /16, twin-hashed
    ones below), per-row and one-column-for-all reads alike. The keys
    cover null (-1), 0, 2^32-1, every decimal-length boundary and
    addresses under 10^7, whose deep truncations have 1-7 digits."""
    import numpy as np

    from ip_filter_spark.operators.cidr import Ip4HashSource, ip4_depth_hashes

    rng = np.random.default_rng(11)
    depths = list(range(33))
    edges = [-1, 0, 2**32 - 1, *(10**e + o for e in range(1, 10) for o in (-1, 0))]
    keys = np.concatenate(
        [edges, rng.integers(0, 2**32, 20_000), rng.integers(0, 10**7, 2_000), np.full(50, -1)]
    ).astype(np.int64)
    want = ip4_depth_hashes(keys, depths)
    src = Ip4HashSource(depths).bind(keys)
    rows = rng.integers(0, len(keys), 150_000)
    cols = rng.integers(0, len(depths), 150_000)
    rows[: len(keys)] = np.arange(len(keys))  # every key read at least once
    assert int((src(rows, cols) != want[rows, cols]).sum()) == 0
    # a truncation is at most its key, so these read 1-7 digit strings at every depth
    assert ((keys >= 0) & (keys < 10**7)).sum() > 2_000
    every = np.arange(len(keys))
    for j in depths:
        assert (src(every, j) == want[:, j]).all(), j
    empty = np.zeros(0, dtype=np.int64)
    assert len(src(empty, empty)) == 0 and len(src(empty, 20)) == 0


def test_ip4_lookup_ships_one_key_column(spark):
    """A v4 lookup carries no per-depth hash column into the Python node
    (a long key crosses as itself, another type as one ``__k`` column),
    while a path-domain lookup still carries ``__h0..``. String- and
    int-typed keys answer like long ones: the key is cast to long, as
    ``ip4_trunc`` does."""
    from ip_filter_spark.operators.lpm import PathLPM

    cidrs = spark.createDataFrame(CIDRS, "cidr string")
    eng = build_ip4_lpm(cidrs, num_partitions=2)
    traffic = spark.createDataFrame([(ip,) for ip in TRAFFIC + [7]], "ip long")

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    as_long = lookup_ip4(eng, traffic)
    assert "__h" not in plan(as_long) and "__k" not in plan(as_long)
    want = sorted(as_long.collect())
    as_str = lookup_ip4(eng, traffic.select(F.col("ip").cast("string").alias("ip")))
    assert "__h" not in plan(as_str) and "__k" in plan(as_str)
    assert sorted((int(r.ip), *r[1:]) for r in as_str.collect()) == want
    small = traffic.where(F.col("ip") < 2**31)  # int holds the lower half of v4
    want_small = sorted(lookup_ip4(eng, small).collect())
    as_int = lookup_ip4(eng, small.select(F.col("ip").cast("int").alias("ip")))
    assert sorted(as_int.collect()) == want_small

    path_eng = PathLPM.build(spark.createDataFrame([("a", 1), ("a/b", 2)], "prefix string, depth int"))
    assert "__h0" in plan(path_eng.lookup(spark.createDataFrame([("a/b/c",)], "path string")))


@pytest.mark.parametrize("bad", [-5, 2**32, 2**40])
def test_ip4_out_of_range_keys_raise(spark, bad):
    """A v4 key outside [0, 2^32) is no address: lookup and build fail
    naming the key column, where the mask truncation used to answer it
    with a silent depth 0."""
    from ip_filter_spark.operators.cidr import ip4_trunc
    from ip_filter_spark.operators.lpm import PathLPM

    eng = build_ip4_lpm(spark.createDataFrame(CIDRS, "cidr string"), num_partitions=2)
    traffic = spark.createDataFrame([(16777216,), (bad,)], "ip long")
    with pytest.raises(Exception, match=f"IPv4 key column 'ip' holds {bad}, outside"):
        lookup_ip4(eng, traffic).collect()
    routes = spark.createDataFrame([("16777216", 8), (str(bad), 8)], "prefix string, depth int")
    for threshold in (1_000_000, 0):  # driver-local and distributed insert pass
        with pytest.raises(Exception, match=f"IPv4 key column 'prefix' holds {bad}, outside"):
            PathLPM.build(routes, trunc=ip4_trunc, num_partitions=2, local_build_max_inserts=threshold)
