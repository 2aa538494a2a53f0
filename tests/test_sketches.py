"""Kernel-level sketch tests.

Mirrors the reference's test strategy (SURVEY.md §5): param-solver goldens
(/root/reference/prototype/tests.py_bak:37-67), no-false-negative
invariant (:82-98), empirical FPR (:69-80), pattern encode/decode
(:135-165) — plus the north-rule additions: merge associativity /
commutativity properties for every sketch and estimate-accuracy bounds.
"""

import numpy as np
import pytest

from ip_filter_spark.sketches import (
    BloomFilter,
    CountingBloomFilter,
    CountMinSketch,
    HyperLogLog,
    KLLSketch,
    MinHashSignatures,
    TDigest,
    from_bytes,
)
from ip_filter_spark.sketches.bloom import choose_hash_funcs, solve_params


def hashes_of(n, seed=0):
    rng = np.random.default_rng(seed)
    return rng.integers(0, 2**64, size=n, dtype=np.uint64, endpoint=False)


# ---------------------------------------------------------------- bloom
def test_param_solver_goldens():
    # reference goldens, tests.py_bak:37-67 — properties of the formulas
    k, m = solve_params(1e-6, 8)
    assert (k, m) == (21, 231)
    k, m = solve_params(1e-6, 8, k=10)
    assert (k, m) == (10, 277)
    k, m = solve_params(1e-9, 8)
    assert (k, m) == (30, 346)
    k, m = solve_params(0.5, 8, k=1, num_bits=1000)
    assert (k, m) == (1, 1000)


def test_choose_hash_funcs():
    # reference goldens, tests.py_bak:24-30
    assert choose_hash_funcs(0, end=4) == [0, 1, 2, 3]
    assert choose_hash_funcs(5, pattern=4) == [7]
    assert choose_hash_funcs(2, pattern=5) == [2, 4]


def test_bloom_no_false_negatives():
    keys = hashes_of(10_000, seed=1)
    bf = BloomFilter(fpp=1e-4, n=10_000)
    bf.insert_hashes(keys)
    assert bf.contains_hashes(keys).all()


def test_bloom_empirical_fpr():
    n = 20_000
    present = hashes_of(n, seed=2)
    absent = hashes_of(200_000, seed=3)
    bf = BloomFilter(fpp=1e-3, n=n)
    bf.insert_hashes(present)
    fpr = bf.contains_hashes(absent).mean()
    assert fpr <= 2 * 1e-3, f"fpr {fpr}"


def test_bloom_partial_hashes_and_pattern_roundtrip():
    bf = BloomFilter(fpp=1e-5, n=1_000_000)
    key = hashes_of(1, seed=4)
    # mirror of bloomfilter.py:97-115 demo: encode pattern=4 at start=5
    bf.insert_hashes(key, hashes=choose_hash_funcs(5, pattern=4))
    assert int(bf.decode(key, start=5, width=5)[0]) == 4
    # vectorized pattern write
    keys = hashes_of(100, seed=5)
    patterns = np.arange(100, dtype=np.uint64) % 31 + 1
    bf2 = BloomFilter(fpp=1e-6, n=1_000_000)
    bf2.encode_pattern(keys, start=1, patterns=patterns)
    got = bf2.decode(keys, start=1, width=5)
    assert (got == patterns).all()


def test_bloom_merge_or_identity():
    keys = hashes_of(5000, seed=6)
    a = BloomFilter(fpp=1e-4, n=5000).insert_hashes(keys[:2500])
    b = BloomFilter(fpp=1e-4, n=5000).insert_hashes(keys[2500:])
    whole = BloomFilter(fpp=1e-4, n=5000).insert_hashes(keys)
    merged = a.merge(b)
    assert bytes(merged.bits) == bytes(whole.bits)


# ------------------------------------------------------------- generic merge
SKETCH_FACTORIES = {
    "bloom": lambda: BloomFilter(fpp=1e-4, n=30_000),
    "cbf": lambda: CountingBloomFilter(fpp=1e-4, n=30_000),
    "hll": lambda: HyperLogLog(p=12),
    "cms": lambda: CountMinSketch(eps=1e-3, delta=1e-3),
    "minhash": lambda: MinHashSignatures(num_perm=64),
}


@pytest.mark.parametrize("name", list(SKETCH_FACTORIES))
def test_merge_assoc_commut_byte_identical(name):
    keys = hashes_of(30_000, seed=7)
    parts = np.array_split(keys, 7)
    make = SKETCH_FACTORIES[name]

    whole = make().update_hashes(keys)

    left = make()
    for p in parts:
        left.merge(make().update_hashes(p))

    import functools

    right = functools.reduce(lambda a, b: b.merge(a), [make().update_hashes(p) for p in reversed(parts)])

    assert whole.to_bytes() == left.to_bytes() == right.to_bytes()


@pytest.mark.parametrize("name", list(SKETCH_FACTORIES))
def test_serialization_roundtrip(name):
    keys = hashes_of(1000, seed=8)
    s = SKETCH_FACTORIES[name]().update_hashes(keys)
    blob = s.to_bytes()
    s2 = from_bytes(blob)
    assert s2.to_bytes() == blob
    assert s2.n_items == s.n_items


# one pair of sketches per class that differ in a merge param, and the
# param named in the error
MISMATCHED = {
    "bloom": ({"fpp": 1e-4, "n": 1000}, {"fpp": 1e-4, "n": 2000}, "m"),
    "cbf": ({"n": 1000}, {"n": 2000}, "m"),
    "hll": ({"p": 10}, {"p": 12}, "p"),
    "cms": ({"width": 64, "depth": 3}, {"width": 128, "depth": 3}, "w"),
    "countsketch": ({"width": 64}, {"width": 128}, "w"),
    "cuckoo": ({"n": 1000}, {"n": 100_000}, "nb"),
    "kll": ({"k": 100}, {"k": 200}, "k"),
    "ddsketch": ({"alpha": 0.01}, {"alpha": 0.02}, "alpha"),
    "tdigest": ({"delta": 100.0}, {"delta": 200.0}, "delta"),
    "minhash": ({"num_perm": 16}, {"num_perm": 32}, "num_perm"),
    "mg": ({"capacity": 8}, {"capacity": 16}, "capacity"),
    "kmv": ({"k": 64}, {"k": 128}, "k"),
    "fd": ({"ell": 8, "dim": 4}, {"ell": 8, "dim": 5}, "dim"),
}


@pytest.mark.parametrize("name", list(MISMATCHED))
def test_mismatched_merge_raises_value_error(name):
    """A merge of incompatible sketches raises ValueError naming the
    param (an explicit check, so ``python -O`` keeps it), and a sketch
    of another class is refused; equal params still merge."""
    from ip_filter_spark.sketches import make_sketch

    mine, theirs, param = MISMATCHED[name]
    with pytest.raises(ValueError, match=rf"different .*\b{param}\b"):
        make_sketch(name, **mine).merge(make_sketch(name, **theirs))
    other = HyperLogLog(p=10) if name != "hll" else BloomFilter()
    with pytest.raises(ValueError, match="different classes"):
        make_sketch(name, **mine).merge(other)
    make_sketch(name, **mine).merge(make_sketch(name, **mine))


# ---------------------------------------------------------------- cbf
def test_cbf_delete_and_count():
    keys = hashes_of(1000, seed=9)
    cbf = CountingBloomFilter(fpp=1e-4, n=10_000)
    cbf.update_hashes(keys)
    cbf.update_hashes(keys[:100])  # duplicates
    assert cbf.contains_hashes(keys).all()
    assert (cbf.min_count(keys[:100]) >= 2).all()
    cbf.remove_hashes(keys[500:])
    # removed keys *may* still appear due to collisions but most vanish
    assert cbf.contains_hashes(keys[500:]).mean() < 0.05
    assert cbf.contains_hashes(keys[:500]).all()


# ---------------------------------------------------------------- hll
@pytest.mark.parametrize("true_n", [100, 10_000, 300_000])
def test_hll_error_within_bound(true_n):
    h = hashes_of(true_n, seed=10)
    hll = HyperLogLog(p=14)
    hll.update_hashes(h)
    est = hll.estimate()
    rel = abs(est - true_n) / true_n
    assert rel <= 4 * hll.rel_error_bound(), f"rel err {rel}"


def test_hll_duplicates_dont_count():
    h = hashes_of(1000, seed=11)
    hll = HyperLogLog(p=14)
    for _ in range(5):
        hll.update_hashes(h)
    est = hll.estimate()
    assert abs(est - 1000) / 1000 <= 4 * hll.rel_error_bound()


# ---------------------------------------------------------------- cms
def test_cms_bounds():
    rng = np.random.default_rng(12)
    n_keys = 2000
    keys = hashes_of(n_keys, seed=13)
    counts = rng.zipf(1.5, size=n_keys).astype(np.int64)
    cms = CountMinSketch(eps=1e-3, delta=1e-3)
    cms.update_hashes(keys, counts=counts)
    est = cms.query_hashes(keys)
    assert (est >= counts).all()  # never underestimates
    overshoot = est - counts
    n_total = counts.sum()
    assert (overshoot <= 1e-3 * n_total * np.e).mean() >= 1 - 1e-2


# ---------------------------------------------------------------- kll
def test_kll_rank_error():
    rng = np.random.default_rng(14)
    data = rng.lognormal(3.0, 1.0, size=200_000)
    kll = KLLSketch(k=200)
    for chunk in np.array_split(data, 13):
        kll.update_values(chunk)
    sorted_data = np.sort(data)
    for q in [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99]:
        v = float(kll.quantile(q)[0])
        true_rank = np.searchsorted(sorted_data, v) / len(data)
        assert abs(true_rank - q) <= 3 * kll.rank_error_bound(), (q, true_rank)


def test_kll_merge_estimate_consistent():
    rng = np.random.default_rng(15)
    data = rng.normal(0, 1, size=100_000)
    whole = KLLSketch(k=200).update_values(data)
    parts = np.array_split(data, 9)
    merged = KLLSketch(k=200)
    for p in parts:
        merged.merge(KLLSketch(k=200).update_values(p))
    sorted_data = np.sort(data)
    for q in [0.05, 0.5, 0.95]:
        for sk in (whole, merged):
            v = float(sk.quantile(q)[0])
            true_rank = np.searchsorted(sorted_data, v) / len(data)
            assert abs(true_rank - q) <= 3 * sk.rank_error_bound()


# ---------------------------------------------------------------- tdigest
def test_tdigest_quantiles():
    rng = np.random.default_rng(16)
    data = rng.lognormal(2.0, 1.5, size=300_000)
    td = TDigest(delta=200)
    for chunk in np.array_split(data, 17):
        td.update_values(chunk)
    sorted_data = np.sort(data)
    for q in [0.001, 0.01, 0.5, 0.99, 0.999]:
        v = float(td.quantile(q)[0])
        true_rank = np.searchsorted(sorted_data, v) / len(data)
        # rank error tightens toward the tails for t-digest; 0.01 global slack
        tol = 0.01 if 0.1 < q < 0.9 else 0.005
        assert abs(true_rank - q) <= tol, (q, true_rank)
    # exact min/max preserved
    assert float(td.quantile(0.0)[0]) == pytest.approx(sorted_data[0])
    assert float(td.quantile(1.0)[0]) == pytest.approx(sorted_data[-1])


def test_tdigest_merge_estimate_consistent():
    rng = np.random.default_rng(17)
    data = rng.normal(100, 15, size=100_000)
    parts = np.array_split(data, 8)
    merged = TDigest(delta=200)
    for p in parts:
        merged.merge(TDigest(delta=200).update_values(p))
    sorted_data = np.sort(data)
    for q in [0.01, 0.5, 0.99]:
        v = float(merged.quantile(q)[0])
        true_rank = np.searchsorted(sorted_data, v) / len(data)
        assert abs(true_rank - q) <= 0.015


# ---------------------------------------------------------------- minhash
def test_minhash_jaccard_estimate():
    rng = np.random.default_rng(18)
    universe = hashes_of(2000, seed=19)
    a = universe[:1500]
    b = universe[500:]  # |a∩b|=1000, |a∪b|=2000 → J=0.5
    from ip_filter_spark.sketches.minhash import estimate_jaccard, signature_matrix

    sigs = signature_matrix([a, b], num_perm=256)
    j = estimate_jaccard(sigs[0], sigs[1])
    assert abs(j - 0.5) < 0.1


def test_kll_coin_survives_serialization():
    """ADVICE r1: the compaction coin counter must round-trip through
    to_bytes/from_bytes — a resumed stream must not replay coin values."""
    import numpy as np

    from ip_filter_spark.sketches import from_bytes
    from ip_filter_spark.sketches.kll import KLLSketch

    rng = np.random.default_rng(3)
    a = KLLSketch(k=64)
    a.update_values(rng.standard_normal(5000))
    assert a._coin > 0
    b = from_bytes(a.to_bytes())
    assert b._coin == a._coin
    # continuing both with the same tail stays byte-identical
    tail = rng.standard_normal(2000)
    a.update_values(tail)
    b.update_values(tail)
    assert a.to_bytes() == b.to_bytes()


def test_misra_gries_bounds_merge_and_roundtrip():
    """MG guarantees, adversarially: a capacity-8 summary over a stream
    with 3 planted heavies + a 200-key tail must (a) never overcount,
    (b) never undercount by more than err <= n/(cap+1), (c) retain every
    key with true count > n/(cap+1), (d) merge associatively to
    byte-identical blobs, (e) survive serialization."""
    import numpy as np

    from ip_filter_spark.sketches import from_bytes
    from ip_filter_spark.sketches.misra_gries import MisraGries

    rng = np.random.default_rng(7)
    heavies = [b"alpha"] * 500 + [b"beta"] * 300 + [b"gamma"] * 150
    tail = [f"t{int(i)}".encode() for i in rng.integers(0, 200, size=1000)]
    stream = np.array(heavies + tail, dtype=bytes)
    rng.shuffle(stream)
    true = {}
    for s in stream:
        true[s] = true.get(s, 0) + 1

    cap = 8
    sk = MisraGries(cap)
    for i in range(0, len(stream), 97):  # uneven batches
        sk.update_keys(stream[i : i + 97])
    n = len(stream)
    assert sk.err <= n // (cap + 1) + 1
    for key, est, upper in sk.items():
        t = true[key.encode()]
        assert est <= t <= upper, (key, est, t, upper)
    kept = {k for k, _, _ in sk.items()}
    for key, t in true.items():
        if t > n / (cap + 1):
            assert key.decode() in kept, (key, t)

    # mergeability: split the stream 3 ways, merge in both orders
    parts = [stream[0:700], stream[700:1100], stream[1100:]]
    sks = []
    for p in parts:
        s = MisraGries(cap)
        s.update_keys(p)
        sks.append(s)
    ab_c = from_bytes(sks[0].to_bytes()).merge(from_bytes(sks[1].to_bytes())).merge(from_bytes(sks[2].to_bytes()))
    bc = from_bytes(sks[1].to_bytes()).merge(from_bytes(sks[2].to_bytes()))
    a_bc = from_bytes(sks[0].to_bytes()).merge(bc)
    # MG merge is NOT state-associative (the reduction's decrement depends
    # on merge order); the PODS'12 guarantee is that ANY merge order keeps
    # the deterministic bound and retains every (n/(cap+1))-heavy key
    for m in (ab_c, a_bc):
        assert m.n_items == n and m.err <= n // (cap + 1) + 1
        for key, est, upper in m.items():
            t = true[key.encode()]
            assert est <= t <= upper, (key, est, t, upper)
        kept_m = {k for k, _, _ in m.items()}
        for key, t in true.items():
            if t > n / (cap + 1):
                assert key.decode() in kept_m

    # roundtrip
    rt = from_bytes(sk.to_bytes())
    assert rt.items() == sk.items() and rt.n_items == sk.n_items and rt.err == sk.err

    # exactness when distinct keys <= capacity: err stays 0
    small = MisraGries(16)
    small.update_keys(np.array([b"x"] * 5 + [b"y"] * 3 + [b"z"] * 2, dtype=bytes))
    assert small.err == 0
    assert dict((k, e) for k, e, _ in small.items()) == {"x": 5, "y": 3, "z": 2}


def test_sparse_serialization_roundtrip_and_size():
    """Low-fill Bloom/CMS blobs ship sparse (set-bit indices / nonzero
    counter pairs) and round-trip exactly; high-fill ships dense. Format
    is a pure function of content, so identical sketches serialize
    identically regardless of how they were built."""
    import numpy as np

    from ip_filter_spark.sketches import from_bytes
    from ip_filter_spark.sketches.bloom import BloomFilter
    from ip_filter_spark.sketches.cms import CountMinSketch

    rng = np.random.default_rng(5)
    # a partial: 1M-capacity filter that saw only 2k keys
    bf = BloomFilter(fpp=1e-4, n=1_000_000)
    h = rng.integers(0, 2**63, size=2000, dtype=np.int64).astype(np.uint64)
    bf.insert_hashes(h)
    blob = bf.to_bytes()
    dense_bytes = len(bf.bits)
    assert len(blob) < dense_bytes // 4, (len(blob), dense_bytes)
    rt = from_bytes(blob)
    assert (rt.bits == bf.bits).all() and rt.n_items == bf.n_items
    assert rt.contains_hashes(h).all()

    # high fill falls back to dense and still round-trips
    bf2 = BloomFilter(fpp=1e-2, n=1000)
    bf2.insert_hashes(rng.integers(0, 2**63, size=5000, dtype=np.int64).astype(np.uint64))
    rt2 = from_bytes(bf2.to_bytes())
    assert (rt2.bits == bf2.bits).all()

    cms = CountMinSketch(eps=1e-4, delta=1e-3)
    cms.update_hashes(h)
    dense = cms.table.nbytes
    blob_c = cms.to_bytes()
    assert len(blob_c) < dense // 4, (len(blob_c), dense)
    rtc = from_bytes(blob_c)
    assert (rtc.table == cms.table).all() and rtc.n_items == cms.n_items

    # merge of sparse-serialized partials == merge of originals
    a, b = BloomFilter(fpp=1e-4, n=1_000_000), BloomFilter(fpp=1e-4, n=1_000_000)
    a.insert_hashes(h[:1000])
    b.insert_hashes(h[1000:])
    m1 = from_bytes(a.to_bytes()).merge(from_bytes(b.to_bytes()))
    assert (m1.bits == bf.bits).all()


@pytest.mark.parametrize("m", [8000, 8003])
def test_bloom_format_switch_boundary(m):
    """The sparse/dense choice is made from the popcount alone. Around the
    switch point ``n_set * itemsize == len(bits)`` (and for an empty and a
    full filter) the blob must equal the one the unpack-everything rule
    writes, and round-trip."""
    from ip_filter_spark.sketches.base import Sketch

    class UnpackRule(BloomFilter):
        def _arrays(self):
            set_ix = np.flatnonzero(np.unpackbits(self.bits, bitorder="little"))
            if len(set_ix) * 4 < len(self.bits):  # m < 2^32: uint32 indices
                return {"sparse_ix": set_ix.astype(np.uint32)}
            return {"bits": self.bits}

    switch = (m + 7) // 8 // 4  # n_set * 4 == len(bits) exactly when m = 8000
    rng = np.random.default_rng(m)
    for n_set in (0, switch - 1, switch, switch + 1, m):
        plane = np.zeros((m + 7) // 8 * 8, dtype=np.uint8)
        plane[rng.choice(m, size=n_set, replace=False)] = 1
        bits = np.packbits(plane, bitorder="little")
        bf = BloomFilter(fpp=0.5, n=8, k=1, num_bits=m, _bits=bits)
        blob = bf.to_bytes()
        assert blob == UnpackRule(fpp=0.5, n=8, k=1, num_bits=m, _bits=bits).to_bytes(), n_set
        assert ("sparse_ix" in Sketch.parse(blob)[3]) == (n_set * 4 < len(bits)), n_set
        rt = from_bytes(blob)
        assert rt.bits.tobytes() == bf.bits.tobytes() and (rt.k, rt.m) == (bf.k, bf.m)
        assert rt.fill_ratio() == n_set / m


def test_kmv_estimates_and_set_algebra():
    """KMV/theta: distinct estimate within 4/sqrt(k-2); intersection /
    union / difference / jaccard track the true overlap; exact below
    capacity; merge is byte-stable and order-independent."""
    import numpy as np

    from ip_filter_spark.sketches import from_bytes
    from ip_filter_spark.sketches.kmv import KMVSketch

    rng = np.random.default_rng(21)
    A = rng.integers(0, 2**64, size=60_000, dtype=np.uint64)
    B = np.concatenate([A[:20_000], rng.integers(0, 2**64, size=40_000, dtype=np.uint64)])
    a, b = KMVSketch(k=2048).update_hashes(A), KMVSketch(k=2048).update_hashes(B)
    bound = 4 * a.rel_error_bound()
    nA, nB = len(np.unique(A)), len(np.unique(B))
    true_inter = len(np.intersect1d(A, B))
    true_union = len(np.union1d(A, B))
    assert abs(a.estimate() - nA) / nA <= bound
    assert abs(a.union_estimate(b) - true_union) / true_union <= bound
    # intersection error scales by 1/jaccard (J ~ 1/4 here) — allow 3x
    assert abs(a.intersect_estimate(b) - true_inter) / true_inter <= 3 * bound
    assert abs(a.difference_estimate(b) - (nA - true_inter)) / (nA - true_inter) <= 3 * bound
    assert abs(a.jaccard_estimate(b) - true_inter / true_union) <= 0.05

    # exact below capacity
    small = KMVSketch(k=1024).update_hashes(A[:500])
    assert small.estimate() == len(np.unique(A[:500]))

    # merge: split/merge equals whole, byte-stable in any order
    parts = np.array_split(A, 5)
    whole = KMVSketch(k=2048).update_hashes(A)
    fwd = KMVSketch(k=2048)
    for p in parts:
        fwd.merge(KMVSketch(k=2048).update_hashes(p))
    rev = KMVSketch(k=2048)
    for p in reversed(parts):
        rev.merge(KMVSketch(k=2048).update_hashes(p))
    assert whole.to_bytes() == fwd.to_bytes() == rev.to_bytes()
    rt = from_bytes(whole.to_bytes())
    assert (rt.mins == whole.mins).all() and rt.n_items == whole.n_items


def test_frequent_directions_bound_merge_and_roundtrip():
    """FD guarantee: 0 <= x^T A^T A x - x^T B^T B x <= ||A||_F^2 / ell for
    unit x (Liberty KDD'13), preserved under arbitrary merge trees
    (Ghashami et al.); serialization roundtrips bit-exactly."""
    from ip_filter_spark.sketches import FrequentDirections, from_bytes

    rng = np.random.default_rng(7)
    ell, dim, n = 16, 48, 4000
    # low-rank structure + noise: FD must capture the dominant subspace
    A = rng.normal(size=(n, 6)) @ rng.normal(size=(6, dim)) + 0.1 * rng.normal(size=(n, dim))

    sk = FrequentDirections(ell=ell, dim=dim).update_vectors(A)
    G = A.T @ A
    bound = sk.error_bound()
    assert abs(sk.frobsq - np.linalg.norm(A, "fro") ** 2) <= 1e-6 * sk.frobsq
    assert sk.n_items == n
    # spectral-norm check (strictly stronger than any single direction)
    assert np.linalg.norm(G - sk.gram(), 2) <= bound
    # underestimation property: B^T B never overshoots along any x
    evals = np.linalg.eigvalsh(G - sk.gram())
    assert evals.min() >= -1e-6 * bound
    # trace shrinkage
    assert sk.trace() <= sk.frobsq * (1 + 1e-12) + 1e-9

    # merge across an uneven split, two different tree shapes (merge is
    # in-place, so build a fresh partial set per tree)
    def fresh_parts():
        return [
            FrequentDirections(ell=ell, dim=dim).update_vectors(c)
            for c in np.array_split(A, 7)
        ]

    parts = fresh_parts()
    left = parts[0]
    for p in parts[1:]:
        left = left.merge(p)
    pair = fresh_parts()
    while len(pair) > 1:
        nxt = []
        for i in range(0, len(pair) - 1, 2):
            nxt.append(pair[i].merge(pair[i + 1]))
        if len(pair) % 2:
            nxt.append(pair[-1])
        pair = nxt
    for m in (left, pair[0]):
        assert m.n_items == n
        assert abs(m.frobsq - sk.frobsq) <= 1e-6 * sk.frobsq
        assert np.linalg.norm(G - m.gram(), 2) <= m.error_bound()

    # roundtrip is bit-exact
    rt = from_bytes(sk.to_bytes())
    assert np.array_equal(rt.b, sk.b) and rt.nbuf == sk.nbuf
    assert rt.frobsq == sk.frobsq and rt.n_items == sk.n_items

    # misuse guard: FD is a vector sketch
    with pytest.raises(TypeError):
        sk.update_hashes(np.zeros(4, dtype=np.uint64))


def test_cms_inner_product_join_size():
    """CMS inner product (C&M SS4.2): never underestimates a.b, overshoot
    <= (e/w)*N1*N2."""
    rng = np.random.default_rng(11)
    a_keys = rng.integers(0, 200, size=20_000).astype(np.uint64)
    b_keys = rng.integers(100, 400, size=5_000).astype(np.uint64)
    # true inner product of frequency vectors = join size on the key
    ca = np.bincount(a_keys.astype(int), minlength=400)
    cb = np.bincount(b_keys.astype(int), minlength=400)
    true_ip = int((ca * cb).sum())

    from ip_filter_spark.sketches.hashing import rehash

    ha = rehash(a_keys, 99)  # hash the raw ints into the 64-bit key space
    hb = rehash(b_keys, 99)
    A = CountMinSketch(eps=1e-3, delta=1e-3).update_hashes(ha)
    B = CountMinSketch(eps=1e-3, delta=1e-3).update_hashes(hb)
    est = A.inner_product(B)
    assert est >= true_ip
    assert est - true_ip <= A.inner_product_bound(B)

    # incompatible params fail loudly
    with pytest.raises(AssertionError):
        A.inner_product(CountMinSketch(eps=1e-2, delta=1e-3))


def test_cbf_subtract_equals_remove():
    """Blob subtraction ≡ hash-level removal (counters are linear), and
    params must match."""
    import numpy as np
    import pytest

    from ip_filter_spark.sketches import from_bytes
    from ip_filter_spark.sketches.counting_bloom import CountingBloomFilter
    from ip_filter_spark.sketches.hashing import fnv1a64

    rng = np.random.default_rng(7)
    digs = rng.integers(0, 256, size=(500, 32), dtype=np.uint8)
    h = fnv1a64(digs)
    a = CountingBloomFilter(fpp=1e-3, n=10_000).update_hashes(h).update_hashes(h[:200])
    via_remove = from_bytes(a.to_bytes()).remove_hashes(h[:200])
    d = CountingBloomFilter(fpp=1e-3, n=10_000).update_hashes(h[:200])
    via_subtract = from_bytes(a.to_bytes()).subtract(d)
    assert (via_remove.counters == via_subtract.counters).all()
    assert (via_subtract.min_count(h) >= 1).all()
    with pytest.raises(ValueError):
        a.subtract(CountingBloomFilter(fpp=1e-3, n=20_000))


def test_sql_udaf_blobs_interoperate_with_engine(spark, sf_dir):
    """functions/udaf.py blobs and engine-path blobs are the SAME
    algebra: merging a DataFrame-API GROUPED_AGG blob with an engine
    build_and_merge blob equals one build over the union (byte-identical
    HLL registers)."""
    from pyspark.sql import functions as F

    from ip_filter_spark.engine import SketchSpec, build_and_merge, sha256_digest
    from ip_filter_spark.functions.udaf import sketch_agg
    from ip_filter_spark.sketches import from_bytes

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    key = F.col("user_id").cast("string")
    dig = sha256_digest(key).alias("digest")
    half_a = ev.where(F.col("event_id") % 2 == 0)
    half_b = ev.where(F.col("event_id") % 2 == 1)

    agg = sketch_agg("hll", p=14)
    blob_a = bytes(half_a.select(dig).agg(agg(F.col("digest"))).collect()[0][0])
    spec = SketchSpec("hll", {"p": 14})
    sk_b = build_and_merge(half_b, [spec], key=key)[spec.key()]
    merged = from_bytes(blob_a).merge(sk_b)
    full = build_and_merge(ev, [spec], key=key)[spec.key()]
    assert (merged.registers == full.registers).all()


def test_probe_counts_rejects_uncountable_sketch(spark, sf_dir):
    import pytest

    from ip_filter_spark.engine import probe_counts
    from ip_filter_spark.sketches import make_sketch

    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    with pytest.raises(TypeError, match="count query"):
        probe_counts(df, "user_id", make_sketch("hll", p=12))


def test_cbf_saturation_is_tracked_and_blocks_subtract():
    """A uint16-clipped counter breaks the never-undercounts bound, so
    saturation must be remembered (across serde and merge) and subtract
    must refuse rather than silently undercount (ADVICE r3)."""
    import numpy as np
    import pytest

    from ip_filter_spark.sketches import from_bytes
    from ip_filter_spark.sketches.counting_bloom import CountingBloomFilter

    h = np.array([12345], dtype=np.uint64)
    tiny = CountingBloomFilter(fpp=1e-3, n=100)
    for _ in range(70):
        tiny.update_hashes(np.repeat(h, 1000))
    assert tiny.saturated
    assert from_bytes(tiny.to_bytes()).saturated  # survives serde
    clean = CountingBloomFilter(fpp=1e-3, n=100).update_hashes(h)
    assert not clean.saturated
    merged = CountingBloomFilter(fpp=1e-3, n=100).merge(tiny)
    assert merged.saturated  # propagates through merge
    with pytest.raises(ValueError, match="saturated"):
        tiny.subtract(clean)
    with pytest.raises(ValueError, match="saturated"):
        clean.subtract(merged)


def test_udaf_merge_skips_null_blobs(spark):
    """sketch_merge_agg must tolerate NULL blobs (outer joins, empty
    upstream groups): nulls are skipped, all-null merges to NULL
    (ADVICE r3)."""
    from pyspark.sql import functions as F

    from ip_filter_spark.functions.udaf import sketch_agg, sketch_estimate, sketch_merge_agg

    from ip_filter_spark.engine import sha256_digest

    df = spark.range(100).select(
        (F.col("id") % 2).alias("g"), sha256_digest(F.col("id").cast("string")).alias("d")
    )
    blobs = df.groupBy("g").agg(sketch_agg("hll", p=12)(F.col("d")).alias("blob"))
    with_null = blobs.unionByName(
        spark.createDataFrame([(0,), (1,)], "g long").select("g", F.lit(None).cast("binary").alias("blob"))
    )
    merged = with_null.groupBy("g").agg(sketch_merge_agg()(F.col("blob")).alias("m"))
    ests = {r.g: r.e for r in merged.select("g", sketch_estimate()(F.col("m")).alias("e")).collect()}
    assert abs(ests[0] - 50) < 10 and abs(ests[1] - 50) < 10
    all_null = spark.createDataFrame([(0,), (0,)], "g long").select(
        "g", F.lit(None).cast("binary").alias("blob")
    )
    row = all_null.groupBy("g").agg(sketch_merge_agg()(F.col("blob")).alias("m")).first()
    assert row.m is None


# ---------------------------------------------------------- count-sketch
def test_countsketch_f2_and_point_estimates():
    from ip_filter_spark.sketches.countsketch import CountSketch

    rng = np.random.default_rng(7)
    # zipf-ish frequencies over 2000 keys
    keys = hashes_of(2000, seed=3)
    counts = (1000 / np.arange(1, 2001) ** 0.8).astype(np.int64) + 1
    cs = CountSketch(width=8192, depth=7)
    cs.update_hashes(keys, counts=counts)

    exact_f2 = float(np.sum(counts.astype(np.float64) ** 2))
    est = cs.f2_estimate()
    assert abs(est - exact_f2) <= cs.f2_rel_error_bound() * exact_f2

    # point estimates unbiased-ish: top keys recovered within the
    # per-row error sqrt(F2/w)
    top = keys[:20]
    ests = cs.query_hashes(top)
    err = np.sqrt(exact_f2 / cs.w)
    assert np.all(np.abs(ests - counts[:20]) <= 3 * err)
    del rng


def test_countsketch_merge_equals_bulk_and_roundtrip():
    from ip_filter_spark.sketches.countsketch import CountSketch

    a_keys, b_keys = hashes_of(5000, seed=1), hashes_of(4000, seed=2)
    bulk = CountSketch(width=1024, depth=5).update_hashes(np.concatenate([a_keys, b_keys]))
    a = CountSketch(width=1024, depth=5).update_hashes(a_keys)
    b = CountSketch(width=1024, depth=5).update_hashes(b_keys)
    merged = a.merge(b)
    assert np.array_equal(merged.table, bulk.table)
    assert merged.n_items == bulk.n_items

    blob = merged.to_bytes()
    back = from_bytes(blob)
    assert np.array_equal(back.table, merged.table)
    assert back.w == 1024 and back.d == 5

    # sparse serialization engages for low-fill tables
    small = CountSketch(width=4096, depth=7).update_hashes(hashes_of(10, seed=4))
    assert len(small.to_bytes()) < small.table.nbytes // 4
    assert np.array_equal(from_bytes(small.to_bytes()).table, small.table)


def test_countsketch_inner_product_join_size():
    from ip_filter_spark.sketches.countsketch import CountSketch

    rng = np.random.default_rng(11)
    domain = hashes_of(500, seed=9)
    a_counts = rng.integers(1, 50, size=500).astype(np.int64)
    b_counts = rng.integers(1, 30, size=500).astype(np.int64)
    a = CountSketch(width=8192, depth=7).update_hashes(domain, counts=a_counts)
    b = CountSketch(width=8192, depth=7).update_hashes(domain, counts=b_counts)
    exact = float(np.sum(a_counts.astype(np.float64) * b_counts))
    est = a.inner_product(b)
    # unbiased estimator; std <= sqrt(F2(a) F2(b) / w)
    std = np.sqrt(np.sum(a_counts**2) * np.sum(b_counts**2) / a.w)
    assert abs(est - exact) <= 5 * std


def test_ddsketch_relative_bound_merge_roundtrip():
    import numpy as np
    from ip_filter_spark.sketches import from_bytes
    from ip_filter_spark.sketches.ddsketch import DDSketch

    rng = np.random.default_rng(3)
    vals = np.concatenate(
        [rng.lognormal(8, 1.5, 40000), -rng.lognormal(2, 1.0, 4000), np.zeros(50)]
    )
    sk = DDSketch(alpha=0.01).update_values(vals)
    qs = [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99]
    est = sk.quantile(qs)
    srt = np.sort(vals)
    n = len(vals)
    for q, e in zip(qs, est):
        exact = srt[int(np.floor((n - 1) * q))]
        assert abs(e - exact) <= 0.0101 * abs(exact) + 1e-12
    # linear sketch: split build == bulk build, byte-for-byte counts
    a = DDSketch(alpha=0.01).update_values(vals[:15000])
    b = DDSketch(alpha=0.01).update_values(vals[15000:])
    merged = a.merge(b)
    assert merged.pos == sk.pos and merged.neg == sk.neg and merged.zero == sk.zero
    rt = from_bytes(sk.to_bytes())
    assert np.allclose(rt.quantile(qs), est)
    assert rt.n_items == sk.n_items and not rt.collapsed


def test_ddsketch_collapse_sets_flag_and_bounds_memory():
    import numpy as np
    from ip_filter_spark.sketches.ddsketch import DDSketch

    rng = np.random.default_rng(4)
    sk = DDSketch(alpha=0.05, max_bins=8).update_values(rng.lognormal(0, 3, 5000))
    assert sk.collapsed and len(sk.pos) <= 8
    # high quantiles survive collapse (lowest buckets merged upward)
    vals = np.sort(rng.lognormal(0, 3, 5000))


def test_cms_conservative_bounds_merge_and_determinism():
    """Estan–Varghese conservative update: never undercounts, cellwise
    tighter than vanilla, the invariant survives sum-merge of partials,
    serialization round-trips, and the result is a deterministic
    function of the input multiset (partition-layout independent)."""
    import numpy as np

    from ip_filter_spark.sketches import from_bytes
    from ip_filter_spark.sketches.cms import CountMinSketch

    rng = np.random.default_rng(7)
    keys = rng.integers(0, 200, 50_000).astype(np.uint64)
    h = (keys * np.uint64(0x9E3779B97F4A7C15)) ^ (keys >> np.uint64(3))
    uq = np.unique(keys)
    hu = (uq * np.uint64(0x9E3779B97F4A7C15)) ^ (uq >> np.uint64(3))
    exact = np.array([(keys == k).sum() for k in uq], dtype=np.int64)

    van = CountMinSketch(width=97, depth=4).update_hashes(h)
    con = CountMinSketch(width=97, depth=4, conservative=True).update_hashes(h)
    ev, ec = van.query_hashes(hu), con.query_hashes(hu)
    assert (ec >= exact).all() and (ec <= ev).all()
    # collisions exist at this width, and conservative is strictly tighter
    assert (ev - exact).sum() > 0
    assert (ec - exact).sum() < (ev - exact).sum()

    # distributed shape: sum-merged conservative partials stay one-sided
    # and stay <= merged vanilla
    cm = (
        CountMinSketch(width=97, depth=4, conservative=True)
        .update_hashes(h[:25_000])
        .merge(CountMinSketch(width=97, depth=4, conservative=True).update_hashes(h[25_000:]))
    )
    vm = (
        CountMinSketch(width=97, depth=4)
        .update_hashes(h[:25_000])
        .merge(CountMinSketch(width=97, depth=4).update_hashes(h[25_000:]))
    )
    ecm = cm.query_hashes(hu)
    assert (ecm >= exact).all() and (ecm <= vm.query_hashes(hu)).all()

    # blob round-trip preserves the flag and the table
    rt = from_bytes(cm.to_bytes())
    assert rt.conservative and (rt.query_hashes(hu) == ecm).all()

    # multiset determinism: shuffled input, identical table
    perm = rng.permutation(len(h))
    again = CountMinSketch(width=97, depth=4, conservative=True).update_hashes(h[perm])
    assert (again.table == con.table).all()


def test_dgim_bracket_and_invariants():
    """DGIM: the doubled-estimate bracket |2C - est2x| <= s holds at
    every prefix and window against a brute-force count; at most k+1
    buckets per size; chain stays O(log^2) of the window count."""
    from collections import Counter

    from ip_filter_spark.sketches.dgim import Dgim

    # deterministic bursty arrivals: gaps cycle 1..7 with occasional 50s
    ts, t = [], 0
    for i in range(3000):
        t += 50 if i % 97 == 0 else (i % 7) + 1
        ts.append(t)

    for k in (1, 2, 8):
        d = Dgim(k=k)
        for i, x in enumerate(ts):
            d.insert(x)
            sizes = Counter(b[0] for b in d.buckets)
            assert all(c <= k + 1 for c in sizes.values()), (k, i, sizes)
            # sizes non-decreasing with age (newest-first chain)
            ss = [b[0] for b in d.buckets]
            assert ss == sorted(ss), ss
            if i % 251 == 0:
                for w in (5, 40, 300, 10**9):
                    est2x, unc = d.estimate2x(x, w)
                    exact = sum(1 for y in ts[: i + 1] if y > x - w)
                    assert abs(2 * exact - est2x) <= unc, (k, i, w, exact, est2x, unc)
                    assert unc * k <= max(k, 2 * exact), (k, i, w, exact, unc)
        # expire keeps the estimate identical for the expired window
        est_before = d.estimate2x(ts[-1], 500)
        d.expire(ts[-1], 500)
        assert d.estimate2x(ts[-1], 500) == est_before
        assert d.n_buckets <= 2 * (k + 1) * (len(bin(len(ts))) + 2)


def test_icws_weighted_minhash_estimates_weighted_jaccard():
    """ICWS: equal-slot fraction tracks exact weighted Jaccard within
    sampling error; signatures are deterministic and invariant to
    feature order (partition-layout independence)."""
    import numpy as np

    from ip_filter_spark.sketches.weighted_minhash import icws_estimate, icws_signature

    rng = np.random.default_rng(7)
    errs = []
    for _ in range(8):
        n = int(rng.integers(5, 60))
        keys = rng.integers(0, 2**63, size=n).astype(np.uint64)
        wa = rng.integers(1, 9, size=n).astype(float)
        wb = wa.copy()
        mask = rng.random(n) < 0.4
        wb[mask] = rng.integers(0, 9, size=int(mask.sum()))
        exact = float(np.minimum(wa, wb).sum() / np.maximum(wa, wb).sum())
        sa = icws_signature(keys, wa, 256, seed=3)
        sb = icws_signature(keys[wb > 0], wb[wb > 0], 256, seed=3)
        errs.append(abs(icws_estimate(sa, sb) - exact))
    assert max(errs) < 0.12, errs

    # determinism + permutation invariance
    s1 = icws_signature(keys, wa, 64, seed=3)
    assert np.array_equal(s1, icws_signature(keys, wa, 64, seed=3))
    p = rng.permutation(len(keys))
    assert np.array_equal(s1, icws_signature(keys[p], wa[p], 64, seed=3))
    # identical sets collide on every slot; zero-weight features ignored
    assert icws_estimate(s1, s1) == 1.0
    wz = np.concatenate([wa, [0.0]])
    kz = np.concatenate([keys, [np.uint64(123)]])
    assert np.array_equal(s1, icws_signature(kz, wz, 64, seed=3))


def _h64(keys):
    import numpy as np

    from ip_filter_spark.sketches.hashing import fnv1a64, sha256_bytes

    digs = np.frombuffer(
        b"".join(sha256_bytes(str(k).encode()) for k in keys), dtype=np.uint8
    ).reshape(len(keys), 32)
    return fnv1a64(digs)


def test_cuckoo_membership_deletion_and_fpr():
    import numpy as np

    from ip_filter_spark.sketches import from_bytes
    from ip_filter_spark.sketches.cuckoo import CuckooFilter

    present = _h64([f"in-{i}" for i in range(5000)])
    absent = _h64([f"out-{i}" for i in range(20000)])
    cf = CuckooFilter(n=6000).update_hashes(present)
    # structural: zero false negatives
    assert cf.contains_hashes(present).all()
    # FPR within the 2b/2^f bound (deterministic seeds; 3x slack + additive)
    fp = int(cf.contains_hashes(absent).sum())
    assert fp <= 3 * cf.fpr_bound() * len(absent) + 10
    # delete half the inserted keys: remaining still contained, deleted mostly gone
    cf.delete_hashes(present[:2500])
    assert cf.contains_hashes(present[2500:]).all()
    ghosts = int(cf.contains_hashes(present[:2500]).sum())
    assert ghosts <= 3 * cf.fpr_bound() * 2500 + 10
    # deleting a never-inserted key raises instead of corrupting
    with pytest.raises(ValueError):
        CuckooFilter(n=64).update_hashes(_h64(["a"])).delete_hashes(_h64(["zz"]))
    # blob roundtrip preserves every answer bit
    rt = from_bytes(cf.to_bytes())
    assert (rt.contains_hashes(absent) == cf.contains_hashes(absent)).all()
    assert (rt.contains_hashes(present) == cf.contains_hashes(present)).all()
    assert rt.n_items == cf.n_items


def test_cuckoo_merge_preserves_no_false_negatives():
    import numpy as np

    from ip_filter_spark.sketches.cuckoo import CuckooFilter

    keys = _h64([f"k{i}" for i in range(8000)])
    parts = [CuckooFilter(n=9000) for _ in range(4)]
    for i, p in enumerate(parts):
        p.update_hashes(keys[i::4])
    merged = parts[0]
    for p in parts[1:]:
        merged = merged.merge(p)
    assert merged.contains_hashes(keys).all()
    assert merged.n_items == 8000
    # multiset deletion survives the merge path
    merged.delete_hashes(keys)
    absent = _h64([f"probe{i}" for i in range(10000)])
    assert int(merged.contains_hashes(absent).sum()) <= 3 * merged.fpr_bound() * 10000 + 10


def test_cuckoo_overflow_path_keeps_one_sided_guarantee():
    from ip_filter_spark.sketches import from_bytes
    from ip_filter_spark.sketches.cuckoo import CuckooFilter

    # force a tiny table (nb*b slots << keys): kicks exhaust, overflow absorbs
    keys = _h64([f"x{i}" for i in range(600)])
    cf = CuckooFilter(n=64, max_kicks=20).update_hashes(keys)
    assert len(cf.overflow) > 0
    assert cf.contains_hashes(keys).all()
    rt = from_bytes(cf.to_bytes())
    assert rt.contains_hashes(keys).all()
    # overflow entries are deletable too
    cf.delete_hashes(keys)
    assert cf.n_items == 0


def test_cuckoo_insert_after_delete_keeps_survivors():
    """Regression: deletion leaves holes mid-bucket; later placements must
    fill actual empty slots, never overwrite live fingerprints."""
    from ip_filter_spark.sketches.cuckoo import CuckooFilter

    a = _h64([f"a{i}" for i in range(3000)])
    b = _h64([f"b{i}" for i in range(3000)])
    cf = CuckooFilter(n=7000).update_hashes(a)
    cf.delete_hashes(a[::3])
    cf.update_hashes(b)  # placements into a hole-riddled table
    survivors = np.concatenate([a[1::3], a[2::3]])
    assert cf.contains_hashes(survivors).all()
    assert cf.contains_hashes(b).all()
    assert cf.n_items == 5000
