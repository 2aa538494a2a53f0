#!/usr/bin/env python3
"""Run one workload of the ip_filter_spark benchmark and print its metrics.

    python3 perfbench/run.py --workload sketch_build --seed 1 --seconds 6 --trace 0

One fresh Spark session at local[<cores>] per run, one client in a closed
loop: each op is one Spark action, issued when the previous one returned.
Inputs are generated by Spark from --seed and staged to parquet under
.perfbench_work/ in the checkout, which is removed at exit.

--trace 0 prints the end-to-end metrics. --trace 1 turns the Spark event
log on, alternates traced ops (job-group tags and spans around each
public call) with untraced ones, and prints the per-layer metrics. The
last line of stdout is the result object; the line before it is a report
with every figure the run measured.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
MIN_OPS = 3  # warm ops per run (per kind, traced and untraced, with --trace 1)


def load_spec() -> dict:
    """BENCHMARK.json: the workload names and each metric's name and unit."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


# ------------------------------------------------------------ process tree
def _tree_stats(root: int) -> list[list[str]]:
    """/proc/<pid>/stat fields (after the command name) of ``root`` and
    its descendants: this driver, the Spark JVM and its Python workers."""
    stats: dict[int, list[str]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as fh:
                    stats[int(name)] = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
    children: dict[int, list[int]] = {}
    for pid, f in stats.items():
        children.setdefault(int(f[1]), []).append(pid)
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        stack.extend(children.get(pid, []))
        if pid in stats:
            out.append(stats[pid])
    return out


def _tree_rss_bytes(root: int) -> int:
    return sum(int(f[21]) for f in _tree_stats(root)) * os.sysconf("SC_PAGE_SIZE")


def tree_cpu_s() -> float:
    """User + system CPU seconds of the live process tree."""
    return sum(int(f[11]) + int(f[12]) for f in _tree_stats(os.getpid())) / os.sysconf("SC_CLK_TCK")


class PeakRss(threading.Thread):
    """Samples the RSS of this process and its descendants (the Spark JVM
    and its Python workers) and keeps the peak."""

    def __init__(self, interval: float = 0.2):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self._halt = threading.Event()

    def run(self) -> None:
        while True:
            self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))
            if self._halt.wait(self.interval):
                return

    def stop(self) -> float:
        self._halt.set()
        self.join()
        return self.peak / 1e6


# ----------------------------------------------------------------- session
def start_session(work: str, cores: int, name: str, event_dir: str | None):
    from ip_filter_spark.config import get_spark

    conf = {
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData -Xms2g",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark(app_name=f"perfbench-{name}", master=f"local[{cores}]", shuffle_partitions=cores, extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and with it the Python workers)
    to exit."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF on its stdin
        proc.wait(timeout=60)


def _count_rows(batches):
    import pandas as pd

    yield pd.DataFrame({"n": [sum(len(b) for b in batches)]})


def persisted_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def unpersist_new(spark, before: set[int]) -> None:
    """Release RDDs persisted since ``before`` was taken, e.g. the
    ``localCheckpoint`` of ``exact_lpm`` in a reference computation, so
    their blocks do not sit in the heap the timed ops use."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in persisted_ids(spark) - before:
        rdds.get(rid).unpersist(True)


def warm_workers(spark, cores: int) -> None:
    """Start one Python worker per core, importing pandas and pyarrow."""
    spark.range(cores, numPartitions=cores).mapInPandas(_count_rows, schema="n long").collect()


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


# -------------------------------------------------------------------- run
class Run:
    """One pass of a workload in a fresh Spark session."""

    def __init__(self, args, work: str, traced: bool):
        self.args, self.work, self.traced = args, work, traced
        self.cores = len(os.sched_getaffinity(0))
        self.event_dir = os.path.join(work, "events") if traced else None
        self.ops: list[dict] = []  # label, traced, wall, result, errors, persisted
        self.setup_failures: list[str] = []

    def execute(self) -> None:
        from perfbench.trace import NullTracer, Tracer
        from perfbench.workloads import WORKLOADS

        if self.event_dir:
            os.makedirs(self.event_dir)
        rss = PeakRss()
        rss.start()
        t0 = time.perf_counter()
        spark = start_session(self.work, self.cores, self.args.workload, self.event_dir)
        self.session_s = time.perf_counter() - t0
        try:
            w = self.workload = WORKLOADS[self.args.workload](
                spark, os.path.join(self.work, "data"), self.args.seed, self.args.size, self.cores
            )
            # once: staging cost is the cold JVM's first jobs, which a
            # repeat in the same JVM would not pay again
            self.stage_s = _timed(w.stage)
            w.open()
            self.warm_s = _timed(lambda: warm_workers(spark, self.cores))
            self.tracer = Tracer(spark.sparkContext) if self.traced else NullTracer()
            self.null_tracer = NullTracer()
            self.build_s = None
            if w.has_build:
                with self.tracer.op("build"):
                    self.build_s = _timed(lambda: w.build(self.tracer))
            self._op(spark, "op0", self.traced)
            t, persisted = time.perf_counter(), persisted_ids(spark)
            self.setup_failures += w.reference()
            unpersist_new(spark, persisted)
            self.reference_s = time.perf_counter() - t
            self.scan_s = _timed(w.scan_control)
            # traced runs interleave traced and untraced ops T U U T T U ...,
            # so the tracing overhead is measured in one session (the event
            # log is on for both) and a warm-up trend over the ops cancels
            min_ops = 2 * MIN_OPS if self.traced else MIN_OPS
            start, i = time.perf_counter(), 1
            while i <= min_ops or time.perf_counter() - start < self.args.seconds:
                self._op(spark, f"op{i}", self.traced and i % 4 in (0, 1))
                i += 1
            if self.traced:
                # the workload's other engine paths, one traced op each,
                # after the timed loop so they do not disturb it
                for kind in w.extras:
                    persisted = persisted_ids(spark)
                    getattr(w, f"prepare_{kind}")()
                    unpersist_new(spark, persisted)
                    self._op(spark, kind, True, kind)
        finally:
            stop_session(spark)
            self.peak_rss_mb = rss.stop()
        for op in self.ops:
            if op["result"] is not None:
                suffix = "" if op["kind"] == "op" else f"_{op['kind']}"
                op["summary"] = getattr(w, f"summarize{suffix}")(op["result"])
                op["errors"] += getattr(w, f"check{suffix}")(op["summary"])

    def _op(self, spark, label: str, traced: bool, kind: str = "op") -> None:
        errors, result = [], None
        tracer = self.tracer if traced else self.null_tracer
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            with tracer.op(label):
                result = getattr(self.workload, "op" if kind == "op" else f"op_{kind}")(tracer)
        except Exception as exc:  # a failed op is counted, and the loop goes on
            traceback.print_exc()
            errors.append(f"{type(exc).__name__}: {exc}")
        wall = time.perf_counter() - t0
        cpu = tree_cpu_s() - cpu0
        persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
        self.ops.append(
            {"label": label, "kind": kind, "traced": traced, "wall": wall, "cpu": cpu, "result": result, "errors": errors, "persisted": persisted}
        )

    # ------------------------------------------------------------ results
    @property
    def warm(self) -> list[dict]:
        main = [op for op in self.ops if op["kind"] == "op"]
        return [op for op in main[1:] if not op["errors"]] or main[1:]

    def extra(self, kind: str) -> dict:
        return next(op for op in self.ops if op["kind"] == kind)

    @property
    def op_s(self) -> float:
        return statistics.median(op["wall"] for op in self.warm)

    def op_s_of(self, traced: bool) -> float:
        return statistics.median(op["wall"] for op in self.warm if op["traced"] == traced)

    @property
    def failed(self) -> int:
        return sum(1 for op in self.ops if op["errors"])

    @property
    def correct(self) -> bool:
        return not self.failed and not self.setup_failures

    def summary_median(self, key: str) -> float:
        vals = [op["summary"][key] for op in self.warm if key in op.get("summary", {})]
        return statistics.median(vals) if vals else 0.0

    def end_to_end(self) -> dict[str, float]:
        return {
            "rows_per_s": self.workload.rows / self.op_s,
            "setup_s": self.session_s + self.stage_s + self.warm_s,
            "first_op_s": self.ops[0]["wall"],
            # build workloads: the op is the build
            "build_s": self.build_s if self.build_s is not None else self.op_s,
            "peak_rss_mb": self.peak_rss_mb,
            "sketch_mb": self.summary_median("sketch_mb"),
        }

    def report(self) -> dict:
        return {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "cores": self.cores,
            "traced": self.traced,
            "rows": self.workload.rows,
            "op_s": self.op_s,
            "op_walls": [round(op["wall"], 4) for op in self.ops],
            "op_traced": [op["traced"] for op in self.ops],
            "op_cpu": [round(op["cpu"], 3) for op in self.ops],
            "session_s": self.session_s,
            "stage_s": self.stage_s,
            "warm_s": self.warm_s,
            "build_s": self.build_s,
            "reference_s": self.reference_s,
            "host.scan_control_s": self.scan_s,
            "persisted_rdds_after": [op["persisted"] for op in self.ops],
            "failed_op_frac": self.failed / len(self.ops),
            "failures": self.setup_failures + [f"{op['label']}: {e}" for op in self.ops for e in op["errors"]][:10],
            "summary": {k: self.summary_median(k) for k in self.warm[0].get("summary", {})},
            "extras": {op["kind"]: op.get("summary") for op in self.ops if op["kind"] != "op"},
        }


# ------------------------------------------------------------ trace fold
def per_layer(run: Run, names) -> dict[str, float]:
    from perfbench import microbench
    from perfbench.trace import EventLog, OUT_ROWS, PY_RECV_B, fold_op, node_stage_s, node_stages, stages_s

    (path,) = glob.glob(os.path.join(run.event_dir, "*"))
    log = EventLog(path)
    tracer, w = run.tracer, run.workload
    labels = [op["label"] for op in run.warm if op["traced"]]
    folds = [fold_op(log, tracer.op_span(label)) for label in labels]
    med = lambda vals: statistics.median(vals) if vals else 0.0  # noqa: E731
    out = dict.fromkeys(names, 0.0)
    for key in folds[0]:
        if key in out:
            out[key] = med([f[key] for f in folds])
    out["spark.persisted_rdds_after"] = max(op["persisted"] for op in run.ops)

    # the engine's partial build and merge: inside each op on sketch_build,
    # inside the one engine build on lpm_bgp
    build_labels = ["build"] if w.has_build else labels
    build_folds = [fold_op(log, tracer.op_span(label)) for label in build_labels]
    out["engine.build_partials_s"] = med([node_stage_s(log, lb, "MapInPandas") for lb in build_labels])
    out["engine.tree_merge_s"] = med([node_stage_s(log, lb, "FlatMapGroupsInPandas") for lb in build_labels])
    out["engine.partials"] = med([log.node_metric(log.stages_of(lb), "MapInPandas", OUT_ROWS) for lb in build_labels])
    out["engine.partial_mb"] = med([log.node_metric(log.stages_of(lb), "MapInPandas", PY_RECV_B) / 1e6 for lb in build_labels])
    out["build.jobs"] = med([f["spark.jobs"] for f in build_folds])
    out["build.driver_only_s"] = med([f["spark.driver_only_s"] for f in build_folds])
    if not w.has_build:
        # driver-side tail of collect_sketches: blob decode after the last stage
        collect = [tracer.call_span(lb, "engine.collect_sketches") for lb in labels]
        out["engine.collect_s"] = med([c.end - f["last_stage_end"] for c, f in zip(collect, folds)])
        out["engine.kernel_busy_s"] = run.summary_median("kernel_busy_s")
        for k in ("hll_rel_err", "kll_rank_err", "tdigest_rank_err", "cms_overcount"):
            out[f"accuracy.{k}"] = run.summary_median(k)
        # the read and keyed paths, one traced op each
        probe, keyed = (run.extra(k).get("summary", {}) for k in ("probe", "keyed"))
        out["engine.probe_s"] = node_stage_s(log, "probe", "MapInPandas")
        out["accuracy.bloom_fpp"] = probe.get("bloom_fpp", 0.0)
        # build level, then merge level: the first and last group stages
        levels = node_stages(log, "keyed", "FlatMapGroupsInPandas")
        out["engine.keyed_build_s"] = stages_s(levels[:1])
        out["engine.keyed_merge_s"] = stages_s(levels[-1:])
        out["engine.keyed_groups"] = keyed.get("groups", 0)
        out["accuracy.keyed_hll_rel_err"] = keyed.get("hll_rel_err", 0.0)
    else:
        eng = w.engine
        out["lpm.routes"] = len(eng.fib)
        out["lpm.depths"] = len(eng.depths)
        out["lpm.bloom_fill"] = eng.bf.fill_ratio()
        out["lpm.engine_mb"] = w.engine_mb
        for k in ("bit_lookups_per_row", "fib_probes_per_row", "fallback_rate", "match_rate"):
            out[f"lpm.{k}"] = run.summary_median(k)
        out["lpm.probe_stage_s"] = med([node_stage_s(log, lb, "MapInArrow") for lb in labels])
    out["host.scan_control_s"] = run.scan_s
    out["host.op_cpu_s"] = med([op["cpu"] for op in run.warm if op["traced"]])
    out["accuracy.failed_op_frac"] = run.failed / len(run.ops)
    out.update(microbench.run(run.args.seed))
    out["trace.op_s"] = run.op_s_of(traced=True)
    out["trace.untraced_op_s"] = run.op_s_of(traced=False)
    out["trace.overhead_s"] = out["trace.op_s"] - out["trace.untraced_op_s"]
    extra_folds = [fold_op(log, tracer.op_span(kind)) for kind in w.extras]
    out["trace.cover_ratio_worst"] = max((f["cover_ratio"] for f in folds + build_folds + extra_folds), key=lambda r: abs(r - 1.0))
    extra = set(out) - set(names)
    if extra:
        raise KeyError(f"per-layer metrics missing from BENCHMARK.json: {sorted(extra)}")
    return out


def _metrics(values: dict[str, float], declared: list[dict]) -> dict:
    return {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in declared}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    spec = load_spec()
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full", help="input scale; tiny is for smoke tests")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "ip_filter_spark", "__init__.py")):
        print(f"perfbench: no ip_filter_spark package in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # Python workers import the package and this benchmark from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # everything the run writes stays in the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    tempfile.tempdir = None
    try:
        run = Run(args, work, traced=bool(args.trace))
        run.execute()
        report = run.report()
        if args.trace:
            declared = spec["per_layer"]
            values = per_layer(run, [m["name"] for m in declared])
        else:
            values, declared = run.end_to_end(), spec["end_to_end"]
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.isdir(WORK_ROOT) and not os.listdir(WORK_ROOT):
            os.rmdir(WORK_ROOT)
    report["metrics"] = values
    print(json.dumps({"report": report}))
    result = {"correct": run.correct, "attempted": len(run.ops), "failed": run.failed, "metrics": _metrics(values, declared)}
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
