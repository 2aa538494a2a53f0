"""The benchmark's workloads.

Each workload generates its inputs with Spark from the run's seed,
stages them to parquet, and then issues ops: one op is one Spark action
over the staged tables, made of calls to the package's public functions.
A workload also computes exact reference values once, checks every op's
output against them, and reads the accuracy figures off each op.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from ip_filter_spark.engine import (
    SketchSpec,
    build_and_merge,
    build_keyed_sketches,
    build_partials,
    collect_sketches,
    probe_counts,
    probe_membership,
    sha256_digest,
    tree_merge,
)
from ip_filter_spark.operators.cidr import build_ip4_lpm, cidr4_route_table, format_ip4, ip4_trunc, lookup_ip4
from ip_filter_spark.operators.lpm import exact_lpm
from ip_filter_spark.sketches import from_bytes
from ip_filter_spark.sketches.hashing import DIGEST_W, digests_to_matrix, fnv1a64
from ip_filter_spark.sources.corpus import synthesize_corpus

# The five sketch specs bench.py builds in one pass.
SKETCH_SPECS = [
    SketchSpec("bloom", {"fpp": 1e-4, "n": 1_000_000}),
    SketchSpec("hll", {"p": 14}),
    SketchSpec("cms", {"eps": 1e-4, "delta": 1e-3}),
    SketchSpec("kll", {"k": 200}, on="value"),
    SketchSpec("tdigest", {"delta": 200.0}, on="value"),
]
QUANTILES = (0.5, 0.9, 0.99)
# Gates. HLL: 4 standard errors (1.04/sqrt(m) is one). KLL: the sketch's
# own rank_error_bound(). t-digest has no proven bound; 2/delta is well
# above its observed rank error at q <= 0.99.
HLL_SIGMAS = 4.0
TDIGEST_RANK_BOUND = 2.0 / 200.0
# The read path, run once per traced sketch_build run: a Bloom sized at
# fpp 1e-2 for the corpus' distinct keys and a CMS, probed with a stream
# of the corpus keys in which half the distinct keys are made absent.
PROBE_BLOOM_FPP = 1e-2
PROBE_CMS = SketchSpec("cms", {"eps": 1e-3, "delta": 1e-3})
BLOOM_FPP_SLACK = 2.0  # gate: realized FPP <= 2x the configured one
# The keyed path, also once per traced run: an HLL per repo through the
# salted two-level applyInPandas, over the repo-skewed corpus.
KEYED_SPEC = SketchSpec("hll", {"p": 12})
KEYED_CHECKED_GROUPS = 5  # the largest repos are checked against exact counts
ABSENT_SUFFIX = "\x00absent"  # the corpus text has no NUL, so suffixed keys are absent

# IPv4 prefix-length mix of a BGP route table, /8 to /24. The weights are
# rounded to the shape the CIDR Report (www.cidr-report.org) publishes for
# the global IPv4 table in 2023-2024: about 60% /24, 10-12% each of /22
# and /23, 3-5% each of /19 to /21, under 3% /16. They approximate that
# shape; they are not a copy of one dated snapshot.
PREFIX_MIX = [
    (8, 0.0002), (9, 0.0002), (10, 0.0004), (11, 0.0005), (12, 0.001), (13, 0.002),
    (14, 0.003), (15, 0.003), (16, 0.028), (17, 0.01), (18, 0.015), (19, 0.03),
    (20, 0.045), (21, 0.045), (22, 0.12), (23, 0.10), (24, 0.5961),
]
# Traffic mix, in percent. This is an assumption, not a measurement:
# TRAFFIC_IN_ROUTE% of addresses fall inside a random route,
# TRAFFIC_UNICAST% anywhere in unicast space, and the rest in the
# unrouted 240.0.0.0/4, which only the default route answers. The lpm.*
# per-layer figures depend on it; the README gives them under other mixes.
TRAFFIC_IN_ROUTE, TRAFFIC_UNICAST = 80, 15
LPM_SAMPLE_EVERY = 32  # traffic rows with id % 32 == 0 are checked against exact_lpm


class _KeptRows:
    """Stands in for the merged DataFrame in ``collect_sketches``, which
    only calls ``collect()``: the collected rows are kept, so the lineage
    columns it drops (rows_seen, wall_ms) come back from the same action."""

    def __init__(self, df):
        self.df = df
        self.rows = []

    def collect(self):
        self.rows = self.df.collect()
        return self.rows


class Workload:
    name = ""
    has_build = False
    extras: tuple[str, ...] = ()  # ops run once per traced run: prepare_<x>, op_<x>, summarize_<x>, check_<x>

    def __init__(self, spark, work_dir: str, seed: int, size: str, cores: int):
        self.spark = spark
        self.work = work_dir
        self.seed = seed
        self.cores = cores
        self.sizes = self.SIZES[size]

    def _stage_df(self, df, name: str) -> None:
        df.write.mode("overwrite").parquet(f"{self.work}/{name}")

    def _read(self, name: str):
        return self.spark.read.parquet(f"{self.work}/{name}")


class SketchBuild(Workload):
    """One op: build_partials -> tree_merge -> collect_sketches of the five
    bench sketches over the staged corpus, one partial per core. A traced
    run also makes one probe op and one keyed op over the same corpus."""

    name = "sketch_build"
    SIZES = {"full": {"rows": 1_000_000}, "tiny": {"rows": 20_000}}

    def stage(self) -> None:
        n = self.sizes["rows"]
        corpus = synthesize_corpus(self.spark, n, n_repos=max(n // 600, 1), seed=self.seed, num_partitions=self.cores)
        # a continuous per-file value for KLL / t-digest: content lengths
        # take only a few dozen distinct values, too few to measure rank
        # error on. -ln(u) * 1e4 with u from the content hash: exponential.
        u = (F.pmod(F.xxhash64("content"), F.lit(1 << 52)) + 1) / float(1 << 52)
        self._stage_df(corpus.withColumn("size", -F.log(u) * 1e4), "corpus")

    def open(self) -> None:
        self.df = self._read("corpus")
        self.rows = self.sizes["rows"]

    def op(self, tracer) -> dict:
        with tracer.call("engine.build_partials"):
            partials = build_partials(self.df, SKETCH_SPECS, key="content", value="size")
        with tracer.call("engine.tree_merge"):
            merged = tree_merge(partials, num_partials=self.cores)
        kept = _KeptRows(merged)
        with tracer.call("engine.collect_sketches"):
            sketches = collect_sketches(kept)
        return {"sketches": [sketches[s.key()] for s in SKETCH_SPECS], "rows": kept.rows}

    def reference(self) -> list[str]:
        df = self.df
        self.distinct = df.select(F.count_distinct("content")).first()[0]
        # a content-hash sample keeps every duplicate of a sampled content,
        # so the per-key count over the sample is its exact count overall
        mod = max(1, self.rows // 2000)
        sample = (
            df.where(F.pmod(F.xxhash64("content", F.lit(self.seed)), F.lit(mod)) == 0)
            .groupBy("content")
            .count()
            .select(sha256_digest(F.col("content")).alias("d"), "count")
            .collect()
        )
        self.present_h = fnv1a64(digests_to_matrix([bytes(r.d) for r in sample], width=DIGEST_W))
        self.present_c = np.array([r["count"] for r in sample], dtype=np.int64)
        self.values = np.sort(df.select("size").toPandas()["size"].to_numpy())
        return [] if len(sample) else ["empty membership sample"]

    def _rank_err(self, xs) -> float:
        """Largest distance from q to the exact rank interval of the
        sketch's q-quantile estimate."""
        n = len(self.values)
        lo = np.searchsorted(self.values, xs, side="left") / n
        hi = np.searchsorted(self.values, xs, side="right") / n
        q = np.asarray(QUANTILES)
        return float(np.max(np.maximum(0.0, np.maximum(lo - q, q - hi))))

    def summarize(self, res: dict) -> dict:
        bloom, hll, cms, kll, td = res["sketches"]
        est = cms.query_hashes(self.present_h)
        return {
            "rows_seen": min(int(r.rows_seen) for r in res["rows"]),
            "kernel_busy_s": max(float(r.wall_ms) for r in res["rows"]) / 1e3,
            "sketch_mb": sum(len(r.payload) for r in res["rows"]) / 1e6,
            "bloom_false_neg": int((~bloom.contains_hashes(self.present_h)).sum()),
            "cms_undercounts": int((est < self.present_c).sum()),
            "cms_overcount": float((est - self.present_c).mean()) / self.rows,
            "cms_bound": cms.error_bound() / self.rows,
            "hll_rel_err": abs(hll.estimate() - self.distinct) / self.distinct,
            "hll_bound": HLL_SIGMAS * hll.rel_error_bound(),
            "kll_rank_err": self._rank_err(kll.quantile(QUANTILES)),
            "kll_bound": kll.rank_error_bound(),
            "tdigest_rank_err": self._rank_err(td.quantile(QUANTILES)),
        }

    def check(self, s: dict) -> list[str]:
        bad = []
        if s["rows_seen"] != self.rows:
            bad.append(f"rows_seen {s['rows_seen']} != {self.rows}")
        if s["bloom_false_neg"]:
            bad.append(f"bloom: {s['bloom_false_neg']} false negatives")
        if s["cms_undercounts"]:
            bad.append(f"cms: {s['cms_undercounts']} undercounts")
        if s["cms_overcount"] > s["cms_bound"]:
            bad.append(f"cms: mean overcount/N {s['cms_overcount']:.3g} > {s['cms_bound']:.3g}")
        if s["hll_rel_err"] > s["hll_bound"]:
            bad.append(f"hll: rel err {s['hll_rel_err']:.4f} > {s['hll_bound']:.4f}")
        if s["kll_rank_err"] > s["kll_bound"]:
            bad.append(f"kll: rank err {s['kll_rank_err']:.4f} > {s['kll_bound']:.4f}")
        if s["tdigest_rank_err"] > TDIGEST_RANK_BOUND:
            bad.append(f"tdigest: rank err {s['tdigest_rank_err']:.4f} > {TDIGEST_RANK_BOUND}")
        return bad

    def scan_control(self) -> None:
        self.df.select(F.bit_xor(F.xxhash64(F.sha2("content", 256)))).collect()

    # ---- once per traced run: the probe and keyed paths of the engine
    extras = ("probe", "keyed")

    def prepare_probe(self) -> None:
        present = F.pmod(F.xxhash64("content", F.lit(self.seed + 5)), F.lit(2)) == 0
        key = F.when(present, F.col("content")).otherwise(F.concat("content", F.lit(ABSENT_SUFFIX)))
        self._stage_df(self.df.select(present.alias("present"), key.alias("key")), "queries")
        self.queries = self._read("queries")
        bloom = SketchSpec("bloom", {"fpp": PROBE_BLOOM_FPP, "n": self.distinct})
        built = build_and_merge(self.df, [bloom, PROBE_CMS], key="content", num_partitions=self.cores)
        self.probe_bloom, self.probe_cms = built[bloom.key()], built[PROBE_CMS.key()]
        self.probe_mb = (len(self.probe_bloom.to_bytes()) + len(self.probe_cms.to_bytes())) / 1e6

    def op_probe(self, tracer) -> dict:
        present, hit, est = F.col("present"), F.col("bloom_hit"), F.col("est_count")
        with tracer.call("engine.probe_membership"):
            hits = probe_membership(self.queries, "key", self.probe_bloom)
        with tracer.call("engine.probe_counts"):
            row = (
                probe_counts(hits, "key", self.probe_cms)
                .agg(
                    F.count("*").alias("n"),
                    F.count(F.when(~present, 1)).alias("absent"),
                    F.count(F.when(present & ~hit, 1)).alias("false_neg"),
                    F.count(F.when(~present & hit, 1)).alias("false_pos"),
                    F.count(F.when(present & (est < 1), 1)).alias("cms_undercounts"),
                    F.sum(F.when(~present, est)).alias("absent_est"),
                )
                .first()
            )
        return row.asDict()

    def summarize_probe(self, r: dict) -> dict:
        return {
            "n": r["n"],
            "false_neg": r["false_neg"],
            "cms_undercounts": r["cms_undercounts"],
            "bloom_fpp": r["false_pos"] / max(r["absent"], 1),
            "cms_absent_overcount": (r["absent_est"] or 0) / max(r["absent"], 1) / self.rows,
            "cms_bound": self.probe_cms.error_bound() / self.rows,
            "probe_mb": self.probe_mb,
        }

    def check_probe(self, s: dict) -> list[str]:
        bad = []
        if s["n"] != self.rows:
            bad.append(f"probed {s['n']} keys, staged {self.rows}")
        if s["false_neg"]:
            bad.append(f"probe: {s['false_neg']} Bloom false negatives")
        if s["cms_undercounts"]:
            bad.append(f"probe: {s['cms_undercounts']} CMS undercounts")
        if s["bloom_fpp"] > BLOOM_FPP_SLACK * PROBE_BLOOM_FPP:
            bad.append(f"probe: Bloom FPP {s['bloom_fpp']:.4f} > {BLOOM_FPP_SLACK} x {PROBE_BLOOM_FPP}")
        if s["cms_absent_overcount"] > s["cms_bound"]:
            bad.append(f"probe: CMS mean overcount/N {s['cms_absent_overcount']:.3g} > {s['cms_bound']:.3g}")
        return bad

    def prepare_keyed(self) -> None:
        top = (
            self.df.groupBy("repo")
            .agg(F.count("*").alias("n"), F.count_distinct("content").alias("d"))
            .orderBy(F.desc("n"), "repo")
            .collect()
        )
        self.repos = len(top)
        self.top_distinct = {r.repo: r.d for r in top[:KEYED_CHECKED_GROUPS]}

    def op_keyed(self, tracer) -> dict:
        with tracer.call("engine.build_keyed_sketches"):
            rows = build_keyed_sketches(self.df, KEYED_SPEC, group_col="repo", key="content").collect()
        return {"rows": rows}

    def summarize_keyed(self, res: dict) -> dict:
        est = {r.group: from_bytes(r.payload).estimate() for r in res["rows"] if r.group in self.top_distinct}
        errs = [abs(est.get(g, 0.0) - d) / d for g, d in self.top_distinct.items()]
        return {
            "groups": len(res["rows"]),
            "n_items": sum(int(r.n_items) for r in res["rows"]),
            "hll_rel_err": max(errs),
            "hll_bound": HLL_SIGMAS * KEYED_SPEC.make().rel_error_bound(),
        }

    def check_keyed(self, s: dict) -> list[str]:
        bad = []
        if s["groups"] != self.repos:
            bad.append(f"keyed: {s['groups']} groups, {self.repos} repos")
        if s["n_items"] != self.rows:
            bad.append(f"keyed: {s['n_items']} rows sketched, {self.rows} staged")
        if s["hll_rel_err"] > s["hll_bound"]:
            bad.append(f"keyed: largest-repo HLL rel err {s['hll_rel_err']:.4f} > {s['hll_bound']:.4f}")
        return bad


def _uniform(col, salt: int):
    return (F.pmod(F.xxhash64(col, F.lit(salt)), F.lit(1_000_000_007))) / 1_000_000_007.0


def _mask(ip, plen):
    p2 = F.pow(F.lit(2.0), (F.lit(32) - plen).cast("double")).cast("long")
    return ip - F.pmod(ip, p2)


class LpmBgp(Workload):
    """Build: build_ip4_lpm over a BGP-shaped route table, on the
    distributed path. One op: lookup_ip4(mode="guided") over the staged
    traffic, aggregated in the same action."""

    name = "lpm_bgp"
    has_build = True
    SIZES = {"full": {"routes": 250_000, "traffic": 1_000_000}, "tiny": {"routes": 5_000, "traffic": 20_000}}

    # route j is a pure function of j, so traffic can aim at route j
    # without a join
    def _plen(self, j):
        u, acc, expr = _uniform(j, self.seed), 0.0, None
        for plen, w in PREFIX_MIX[:-1]:
            acc += w
            expr = F.when(u < acc, F.lit(plen)) if expr is None else expr.when(u < acc, F.lit(plen))
        return expr.otherwise(F.lit(PREFIX_MIX[-1][0]))

    def _base(self, j):
        # unicast space 1.0.0.0 - 223.255.255.255; 240.0.0.0/4 stays unrouted
        return F.lit(1 << 24) + F.pmod(F.xxhash64(j, F.lit(self.seed + 1)), F.lit(223 << 24))

    def stage(self) -> None:
        n_routes, n_traffic = self.sizes["routes"], self.sizes["traffic"]
        j = F.col("id")
        prefix = _mask(self._base(j), self._plen(j))
        routes = self.spark.range(n_routes, numPartitions=self.cores).select(
            F.concat(format_ip4(prefix), F.lit("/"), self._plen(j).cast("string")).alias("cidr")
        )
        self._stage_df(routes, "routes")
        q = F.col("id")
        pick = F.pmod(F.xxhash64(q, F.lit(self.seed + 2)), F.lit(n_routes))
        kind = F.pmod(F.xxhash64(q, F.lit(self.seed + 3)), F.lit(100))
        host = F.pmod(F.xxhash64(q, F.lit(self.seed + 4)), F.lit(1 << 32))
        plen = self._plen(pick)
        in_route = _mask(self._base(pick), plen) + F.pmod(host, F.pow(F.lit(2.0), (F.lit(32) - plen).cast("double")).cast("long"))
        ip = (
            F.when(kind < TRAFFIC_IN_ROUTE, in_route)
            .when(kind < TRAFFIC_IN_ROUTE + TRAFFIC_UNICAST, F.lit(1 << 24) + F.pmod(host, F.lit(223 << 24)))
            .otherwise(F.lit(240 << 24) + F.pmod(host, F.lit(1 << 28)))
        )
        self._stage_df(self.spark.range(n_traffic, numPartitions=self.cores).select("id", ip.alias("ip")), "traffic")

    def open(self) -> None:
        self.routes = self._read("routes")
        self.traffic = self._read("traffic")
        self.rows = self.sizes["traffic"]

    def build(self, tracer) -> None:
        # local_build_max_inserts=0: the distributed partials -> tree_merge
        # build, which a full BGP table (~1M routes) takes by default
        with tracer.call("operators.cidr.build_ip4_lpm"):
            self.engine = build_ip4_lpm(self.routes, num_partitions=self.cores, local_build_max_inserts=0)
        self.engine_mb = len(self.engine.to_bytes()) / 1e6

    @staticmethod
    def _fingerprint_aggs(sample):
        d = F.col("lpm_depth")
        return [
            F.count(F.when(sample, 1)).alias("sample_n"),
            F.bit_xor(F.when(sample, F.xxhash64("id", d))).alias("sample_xor"),
            F.sum(F.when(sample, d)).alias("sample_depth"),
        ]

    def op(self, tracer) -> dict:
        sample = F.pmod("id", F.lit(LPM_SAMPLE_EVERY)) == 0
        with tracer.call("operators.cidr.lookup_ip4"):
            row = (
                lookup_ip4(self.engine, self.traffic, mode="guided")
                .agg(
                    F.count("*").alias("n"),
                    F.count(F.when(F.col("lpm_depth") > 0, 1)).alias("matched"),
                    F.sum("bit_lookups").alias("bit_lookups"),
                    F.sum("fib_probes").alias("fib_probes"),
                    F.count(F.when(F.col("fell_back"), 1)).alias("fell_back"),
                    *self._fingerprint_aggs(sample),
                )
                .first()
            )
        return row.asDict()

    def reference(self) -> list[str]:
        sample_df = self.traffic.where(F.pmod("id", F.lit(LPM_SAMPLE_EVERY)) == 0)
        exact = exact_lpm(sample_df, cidr4_route_table(self.routes), path_col="ip", trunc=ip4_trunc)
        self.ref = exact.agg(*self._fingerprint_aggs(F.lit(True))).first().asDict()
        return [] if self.ref["sample_n"] else ["empty traffic sample"]

    def summarize(self, r: dict) -> dict:
        n = r["n"]
        return {
            **{k: r[k] for k in ("n", "sample_n", "sample_xor", "sample_depth")},
            "bit_lookups_per_row": r["bit_lookups"] / n,
            "fib_probes_per_row": r["fib_probes"] / n,
            "fallback_rate": r["fell_back"] / n,
            "match_rate": r["matched"] / n,
            "sketch_mb": self.engine_mb,
        }

    def check(self, s: dict) -> list[str]:
        bad = []
        if s["n"] != self.rows:
            bad.append(f"looked up {s['n']} rows, staged {self.rows}")
        got = {k: s[k] for k in self.ref}
        if got != self.ref:
            bad.append(f"guided {got} != exact {self.ref} on the traffic sample")
        return bad

    def scan_control(self) -> None:
        self.traffic.select(F.bit_xor(F.xxhash64(F.sha2(F.col("ip").cast("string"), 256)))).collect()


WORKLOADS = {w.name: w for w in (SketchBuild, LpmBgp)}
