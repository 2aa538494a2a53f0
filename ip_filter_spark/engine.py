"""Distributed sketch lifecycle: build → tree-merge → probe → checkpoint.

The Spark-first re-expression of the reference prototype's single-thread
lifecycle (``ipfilter.py`` build and lookup, ``setup.py`` pipeline):

    build:  scan → [salted repartition] → mapInPandas(build partials)
            → sketch-row DataFrame (one row per sketch per partition)
    merge:  hierarchical applyInPandas reduce, fanout F per level
            (depth ceil(log_F P)) — the treeAggregate pattern without
            ever shipping row data to the driver
    probe:  broadcast merged blob → mapInPandas vectorized probe
    ckpt:   sketch-row DataFrame ↔ parquet (BinaryType payload + lineage)

One sketch-row contract, one implementation of each step. Every module
that makes sketch rows (this one, the LPM filter build, the Misra–Gries
and Frequent Directions partials, the streaming store) goes through:

- ``_emit_partials`` — the only partial emitter: each task runs a build
  function over its Arrow batches and the emitter stamps the sketches
  with the task's partition id, rows seen and build wall.
  ``_sketch_rows`` is the only constructor of ``SKETCH_ROW_SCHEMA``
  frames, shared by the emitter and the merge;
- ``_fold_blobs`` — the only blob fold (``from_bytes`` → ``merge``),
  behind every executor-side merge and every driver-side collect;
- ``_probe`` — the one probe body behind ``probe_membership`` and
  ``probe_counts``;
- ``_keyed_base`` — the finest level shared by ``build_keyed_sketches``
  and ``rollup_keyed_sketches``;
- ``SketchSpec.key()`` — the only name of a spec in build, resume and
  collect; two specs with one key are rejected, never cross-merged.

Scale notes (100 TB / 1000 executors design point):
- partials are KB–MB regardless of input size; the merge tree moves
  O(P · blob) bytes total with no skew (group keys are dense ints);
- the only full-data pass is the build scan, which reads exactly the
  key/value columns (column pruning) and keeps all per-row work inside
  one Arrow batch loop — no per-row Python, no driver collect of rows;
- skewed corpus keys (giant repos) are defused *before* the build scan
  with an explicit salted repartition so every task sees ~equal rows.
"""

from __future__ import annotations

import hashlib
import time
from collections.abc import Iterable, Iterator
from typing import Any, Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ip_filter_spark.lifetime import cut, pinned
from ip_filter_spark.sketches import from_bytes, make_sketch
from ip_filter_spark.sketches.base import Sketch
from ip_filter_spark.sketches.hashing import digests_to_matrix, fnv1a64

SKETCH_ROW_SCHEMA = StructType(
    [
        StructField("name", StringType(), False),
        StructField("params", StringType(), False),
        StructField("payload", BinaryType(), False),
        StructField("n_items", LongType(), False),
        StructField("partition_id", IntegerType(), False),
        StructField("rows_seen", LongType(), False),
        StructField("wall_ms", DoubleType(), False),
        StructField("params_hash", StringType(), False),
    ]
)

DIGEST_COL = "__digest"
VALUE_COL = "__value"


def sha256_digest(col) -> "F.Column":
    """Key digest: sha256(content) truncated to DIGEST_W (16) bytes,
    computed JVM-side (whole-stage codegen) — the per-row hashing
    invariant from BASELINE.json. Truncation halves the Arrow bytes/row
    crossing into the Python kernels (and the FNV loop length) with no
    semantic change: 128 bits stay collision-free far past 100-TB row
    counts (birthday bound ~2^64)."""
    from ip_filter_spark.sketches.hashing import DIGEST_W

    return F.substring(F.unhex(F.sha2(col, 256)), 1, DIGEST_W)


def _hashable(df: DataFrame, col) -> "F.Column":
    """Resolve ``col`` against ``df`` and make it sha2-compatible:
    string/binary pass through, anything else casts to its canonical
    string form (so users can feed bigint keys directly)."""
    kc = F.col(col) if isinstance(col, str) else col
    dt = df.select(kc.alias("__k")).schema[0].dataType.typeName()
    return kc if dt in ("string", "binary") else kc.cast("string")


def _params_hash(spec_params: dict) -> str:
    import json

    return hashlib.sha256(json.dumps(spec_params, sort_keys=True).encode()).hexdigest()[:16]


class SketchSpec:
    """Declarative sketch request: name, constructor params, and which
    input it consumes ('hash' of the key digest, or 'value' double).

    ``where`` (r6): optional row predicate (Column or SQL string) — the
    spec consumes only matching rows, letting one scan build sketches
    over several row subsets (e.g. a full filter and a deletions filter)
    instead of one pass per subset. ``tag`` disambiguates specs that
    share (sketch, params) within one build — it suffixes the merge
    group key, so their partials never cross-merge."""

    def __init__(
        self,
        sketch: str,
        params: dict[str, Any] | None = None,
        on: str = "hash",
        where=None,
        tag: str = "",
    ):
        assert on in ("hash", "value")
        self.sketch = sketch
        self.params = dict(params or {})
        self.on = on
        self.where = where
        self.tag = tag

    def make(self) -> Sketch:
        return make_sketch(self.sketch, **self.params)

    def _ph(self) -> str:
        ph = _params_hash(self.params)
        return f"{ph}:{self.tag}" if self.tag else ph

    def key(self) -> str:
        return f"{self.sketch}:{self._ph()}"


def salted_repartition(
    df: DataFrame,
    num_partitions: int,
    *key_cols,
    salt_buckets: int = 64,
    entropy_cols: list | None = None,
) -> DataFrame:
    """Skew defusal: spread hot keys over ``salt_buckets`` sub-keys before a
    keyed stage (north_rule requirement — giant repos must not pin a task).

    The salt must vary *within* a key, so it is hashed from
    ``entropy_cols`` (default: every column of ``df``) — hashing the key
    alone would map each key to one salt and spread nothing. Deterministic:
    same rows → same placement (resume-safe), unlike ``rand()``-salting."""
    entropy = entropy_cols if entropy_cols is not None else [F.col(c) for c in df.columns]
    salt = (F.xxhash64(*entropy) % salt_buckets + salt_buckets) % salt_buckets
    return df.repartition(num_partitions, *key_cols, salt.alias("__salt"))


# ------------------------------------------------------------ sketch rows
def _sketch_rows(
    sketches: list[Sketch],
    params_hashes: list[str],
    partition_id: int,
    rows_seen: int,
    wall_ms: float,
    params: list[str] | None = None,
) -> pd.DataFrame:
    """The only constructor of ``SKETCH_ROW_SCHEMA`` frames: one row per
    sketch, all sharing one lineage. ``params`` overrides the sketches'
    own ``params_json()`` (a merge keeps its inputs' params column)."""
    n = len(sketches)
    return pd.DataFrame(
        {
            "name": [s.NAME for s in sketches],
            "params": params if params is not None else [s.params_json() for s in sketches],
            "payload": [s.to_bytes() for s in sketches],
            "n_items": [int(s.n_items) for s in sketches],
            "partition_id": [int(partition_id)] * n,
            "rows_seen": [int(rows_seen)] * n,
            "wall_ms": [float(wall_ms)] * n,
            "params_hash": list(params_hashes),
        }
    )


def _emit_partials(
    src: DataFrame,
    build: Callable[[Iterator[pd.DataFrame]], tuple[list[Sketch], int]],
    params_hashes: list[str],
) -> DataFrame:
    """The only partial emitter: ``mapInPandas`` over ``src`` where each
    task runs ``build(batches) -> (sketches, rows_seen)`` and yields one
    sketch row per sketch (``params_hashes`` in the same order), stamped
    with the task's partition id and the wall of ``build``."""

    def emit(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        t0 = time.monotonic()
        sketches, rows_seen = build(batches)
        wall_ms = (time.monotonic() - t0) * 1000.0
        yield _sketch_rows(sketches, params_hashes, TaskContext.get().partitionId(), rows_seen, wall_ms)

    return src.mapInPandas(emit, schema=SKETCH_ROW_SCHEMA)


def _fold_blobs(blobs: Iterable) -> Sketch:
    """The only blob fold: deserialize every blob and merge left to right."""
    it = iter(blobs)
    first = next(it, None)
    if first is None:
        raise ValueError("no sketch blobs to merge")
    sk = from_bytes(bytes(first))
    for blob in it:
        sk = sk.merge(from_bytes(bytes(blob)))
    return sk


def build_partials(
    df: DataFrame,
    specs: list[SketchSpec],
    key: "F.Column | str" = None,
    value: "F.Column | str" = None,
    num_partitions: int | None = None,
    skip_partitions: set[int] | None = None,
) -> DataFrame:
    """Per-partition sketch build.

    key: column/expr whose sha256 digest (computed JVM-side via sha2)
         feeds hash sketches.
    value: numeric column feeding quantile sketches (KLL / t-digest).

    Returns the sketch-row DataFrame (one row per spec per partition).
    Specs must have distinct ``key()``s: two specs that share one would
    merge into a single wrong sketch.
    """
    keys = [s.key() for s in specs]
    dups = sorted({k for k in keys if keys.count(k) > 1})
    if dups:
        raise ValueError(
            f"SketchSpecs share key(s) {dups}: their partials would merge into one sketch; "
            "give each such spec a distinct tag="
        )
    pre, post = [], []
    if any(s.on == "hash" for s in specs):
        pre.append(_hashable(df, key).alias("__rawkey"))
        post.append(sha256_digest(F.col("__rawkey")).alias(DIGEST_COL))
    if any(s.on == "value" for s in specs):
        vc = F.col(value) if isinstance(value, str) else value
        pre.append(vc.cast("double").alias(VALUE_COL))
        post.append(F.col(VALUE_COL))
    # r6: per-spec row predicates (SketchSpec.where) ride the projection
    # as JVM boolean columns (null -> excluded), so ONE scan builds
    # sketches over several row subsets instead of one pass per subset
    _mask_names: list = []
    for i, s in enumerate(specs):
        if s.where is None:
            _mask_names.append(None)
        else:
            w = F.expr(s.where) if isinstance(s.where, str) else s.where
            mname = f"__m{i}"
            pre.append(F.coalesce(w.cast("boolean"), F.lit(False)).alias(mname))
            post.append(F.col(mname))
            _mask_names.append(mname)
    # Project the NARROW (raw key, value) columns first, repartition
    # second, compute sha2 third: the expensive digest (and the python
    # kernels) then run on num_partitions tasks instead of the source's
    # split count, and the exchange carries only the key/value bytes —
    # never the full rows (guide §2.3 'project before the exchange'; the
    # r6 first cut repartitioned df itself and measured 2x SLOWER on a
    # value-only build, shuffling 11 lineitem columns to move one
    # double). When the source is already well-partitioned nothing
    # shuffles at all.
    proj = df.select(*pre)
    # r6 note — auto-spread was tried here (repartition scan-rooted
    # sources up to session parallelism when their split count is lower,
    # the dedup._spread policy) and REVERTED on measurement: at the
    # 1M-10M-row gate tables the narrow shuffle + 32x partial-blob merge
    # (a CBF partial is ~1.4M counters) cost MORE than the 1-2 s serial
    # digest it parallelized (cbf 1.35 -> 2.16 s, cms 1.03 -> 1.69 s,
    # kll 1.37 -> 1.85 s warm on the 10x proxy). Sketch kernels are
    # cheap per row; spreading pays only when the per-row map work is
    # heavy (signature hashing — which is why dedup._spread stays).
    proj = (proj.repartition(num_partitions) if num_partitions else proj).select(*post)
    if skip_partitions:
        # resume path: drop already-checkpointed partitions AFTER the
        # (deterministic) repartition but BEFORE the python stage — the
        # sketch kernels (the expensive part) are skipped; the scan +
        # digest + exchange are recomputed (they define the partition ids)
        proj = proj.where(~F.spark_partition_id().isin([int(p) for p in skip_partitions]))

    spec_list = [(s.sketch, s.params, s.on, _mask_names[i]) for i, s in enumerate(specs)]

    def build(batches: Iterator[pd.DataFrame]) -> tuple[list[Sketch], int]:
        sketches = [make_sketch(name, **params) for name, params, _, _ in spec_list]
        rows_seen = 0
        for batch in batches:
            rows_seen += len(batch)
            h64 = None
            if DIGEST_COL in batch.columns and len(batch):
                h64 = fnv1a64(digests_to_matrix(batch[DIGEST_COL]))
            vals = batch[VALUE_COL].to_numpy() if VALUE_COL in batch.columns else None
            for sk, (_, _, on, mcol) in zip(sketches, spec_list):
                m = None
                if mcol is not None and len(batch):
                    m = batch[mcol].to_numpy().astype(bool)
                if on == "hash" and h64 is not None:
                    sk.update_hashes(h64 if m is None else h64[m])
                elif on == "value" and vals is not None:
                    sk.update_values(vals if m is None else vals[m])
        return sketches, rows_seen

    return _emit_partials(proj, build, [s._ph() for s in specs])


def _merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
    first = pdf.iloc[0]
    return _sketch_rows(
        [_fold_blobs(pdf.payload)],
        [first["params_hash"]],
        pdf.partition_id.min(),
        pdf.rows_seen.sum(),
        pdf.wall_ms.sum(),
        params=[first["params"]],
    )


def tree_merge(
    sketch_rows: DataFrame, fanout: int = 64, levels: int | None = None, num_partials: int | None = None
) -> DataFrame:
    """Hierarchical merge of partials: each level groups ``fanout``
    partials per (sketch, group) and merges them in one applyInPandas
    task. With fanout 64, one level handles 4096 partials before the
    final squeeze; at 1000 executors the shuffle volume per level is
    O(P · blob_size) with dense int group keys (no skew).

    ``levels=None`` sizes the tree from ``num_partials`` (the builder's
    partition count) or, failing that, the session default parallelism:
    P <= fanout partials go straight to the final squeeze (1 stage) —
    extra levels are pure latency at small P. Deliberately NOT derived
    from ``sketch_rows.rdd`` — under AQE, touching ``.rdd`` materializes
    the upstream shuffle stages, silently executing the (possibly
    expensive) partial-build subplan a second time (measured 3x build
    wall on the LPM inserts plan)."""
    out = sketch_rows
    if levels is None:
        p = num_partials or sketch_rows.sparkSession.sparkContext.defaultParallelism
        levels = 0
        while p > fanout:
            levels += 1
            p = (p + fanout - 1) // fanout
    for _ in range(levels):
        out = (
            out.withColumn("__grp", (F.col("partition_id") / fanout).cast("int"))
            .groupBy("name", "params_hash", "__grp")
            .applyInPandas(lambda pdf: _merge_group(pdf.drop(columns="__grp")), schema=SKETCH_ROW_SCHEMA)
        )
    # final squeeze to exactly one row per sketch
    out = out.groupBy("name", "params_hash").applyInPandas(_merge_group, schema=SKETCH_ROW_SCHEMA)
    return out


def collect_sketches(merged: DataFrame) -> dict[str, Sketch]:
    """Driver-side: {name:params_hash → Sketch} from a merged sketch DF.
    The keys are ``SketchSpec.key()``s."""
    blobs: dict[str, list] = {}
    for row in merged.collect():
        blobs.setdefault(f"{row.name}:{row.params_hash}", []).append(row.payload)
    return {k: _fold_blobs(v) for k, v in blobs.items()}


def build_and_merge(
    df: DataFrame,
    specs: list[SketchSpec],
    key=None,
    value=None,
    num_partitions: int | None = None,
    num_partials: int | None = None,
) -> dict[str, Sketch]:
    """``num_partials`` sizes the merge tree when the build rides the
    source partitioning (num_partitions=None). Without it the tree
    defaults to the session parallelism, which UNDER-sizes on many-file
    sources: a 256-file scan then funnels 256 blobs per sketch into one
    final-squeeze task — measured as ~28 s of Amdahl-serial wall at
    every cluster size in the scaling study. Callers reading multi-file
    sources should pass ``len(df.inputFiles())`` or better."""
    if num_partials is None and num_partitions is None:
        try:
            # metadata-only (no job); may be empty for non-file sources
            num_partials = len(df.inputFiles()) or None
        except Exception:
            num_partials = None
    partials = build_partials(df, specs, key=key, value=value, num_partitions=num_partitions)
    sketches = collect_sketches(tree_merge(partials, num_partials=num_partials or num_partitions))
    return {spec.key(): sketches[spec.key()] for spec in specs}


# ------------------------------------------------------------------ keyed
def _keyed_schema(group_cols: list[str]) -> StructType:
    return StructType(
        [StructField(c, StringType(), True) for c in group_cols]
        + [StructField("payload", BinaryType(), False), StructField("n_items", LongType(), False)]
    )


def _keyed_row(pdf: pd.DataFrame, group_cols: list[str], sk: Sketch) -> pd.DataFrame:
    out = {c: [pdf[c].iloc[0]] for c in group_cols}
    out["payload"] = [sk.to_bytes()]
    out["n_items"] = [int(sk.n_items)]
    return pd.DataFrame(out)


def _keyed_merge(group_cols: list[str]) -> Callable[[pd.DataFrame], pd.DataFrame]:
    return lambda pdf: _keyed_row(pdf, group_cols, _fold_blobs(pdf.payload))


def _keyed_base(
    df: DataFrame, spec: SketchSpec, groups: dict[str, str], key, value, salt_buckets: int
) -> DataFrame:
    """The finest keyed level, shared by ``build_keyed_sketches`` and
    ``rollup_keyed_sketches``: project the group columns (output name →
    source column, cast to string), the key digest or the value, and a
    salt hashed from every input column; build one sketch per (group,
    salt), then merge per group. Returns (<groups>, payload, n_items),
    not persisted."""
    names = list(groups)
    cols = [F.col(src).cast("string").alias(n) for n, src in groups.items()]
    if spec.on == "hash":
        cols.append(sha256_digest(_hashable(df, key)).alias(DIGEST_COL))
    else:
        vc = F.col(value) if isinstance(value, str) else value
        cols.append(vc.cast("double").alias(VALUE_COL))
    salt = (F.xxhash64(*[F.col(c) for c in df.columns]) % salt_buckets + salt_buckets) % salt_buckets
    proj = df.select(*cols, salt.alias("__salt"))
    name, params, on = spec.sketch, spec.params, spec.on

    def build_group(pdf: pd.DataFrame) -> pd.DataFrame:
        sk = make_sketch(name, **params)
        if on == "hash":
            if len(pdf):
                sk.update_hashes(fnv1a64(digests_to_matrix(pdf[DIGEST_COL])))
        else:
            sk.update_values(pdf[VALUE_COL].to_numpy())
        return _keyed_row(pdf, names, sk)

    schema = _keyed_schema(names)
    partials = proj.groupBy(*names, "__salt").applyInPandas(build_group, schema=schema)
    return partials.groupBy(*names).applyInPandas(_keyed_merge(names), schema=schema)


def build_keyed_sketches(
    df: DataFrame,
    spec: SketchSpec,
    group_col: str,
    key=None,
    value=None,
    salt_buckets: int = 16,
) -> DataFrame:
    """One sketch PER GROUP KEY (e.g. an HLL per event_type) — the keyed
    form of build_and_merge.

    Skew-safe two-level shape: partials build per (group, salt) so a hot
    group spreads over ``salt_buckets`` tasks, then merge per group —
    both levels are applyInPandas over the mergeable sketch algebra. A
    naive ``groupBy(key).applyInPandas`` would pin each giant group to
    one task (north-rule skew requirement).

    Returns (group string, payload binary, n_items long); decode with
    ``sketches.from_bytes(payload)``.
    """
    return _keyed_base(df, spec, {"group": group_col}, key, value, salt_buckets)


def build_with_deletions(
    inserts: DataFrame,
    deletes: DataFrame,
    spec: SketchSpec,
    key,
    shards: int = 32,
) -> Sketch:
    """Distributed build of a DELETABLE membership sketch (cuckoo filter,
    counting Bloom) when the deletions are a DataFrame, not a blob.

    CBF deletion is linear (blob subtraction — see
    ``cbf_deletion_membership``), but a cuckoo filter must see the key of
    every deletion. The scale shape: tag inserts +1 / deletes −1, shuffle
    BOTH streams once on a key-hash shard, and let each shard task build
    its filter then apply its deletions locally — a delete always lands in
    the shard that inserted its key (same digest → same shard), so no
    cross-shard coordination and no keys to the driver. Only O(shards)
    blobs leave the executors; the deterministic shard-ordered merge
    re-inserts fingerprints (placement-history-dependent, so byte-identity
    across shard counts is NOT promised — membership answers are).

    Deletions must be keys actually inserted (standard cuckoo/CBF
    contract); a never-inserted delete raises inside its shard task."""
    proj_i = inserts.select(sha256_digest(_hashable(inserts, key)).alias(DIGEST_COL)).withColumn(
        "__op", F.lit(1)
    )
    proj_d = deletes.select(sha256_digest(_hashable(deletes, key)).alias(DIGEST_COL)).withColumn(
        "__op", F.lit(-1)
    )
    u = proj_i.unionByName(proj_d).withColumn(
        "__shard", ((F.xxhash64(DIGEST_COL) % shards + shards) % shards).cast("int")
    )
    name, params = spec.sketch, spec.params
    schema = StructType(
        [StructField("shard", IntegerType(), False), StructField("payload", BinaryType(), False)]
    )

    def build_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        sk = make_sketch(name, **params)
        ins = pdf[pdf["__op"] == 1]
        if len(ins):
            sk.update_hashes(fnv1a64(digests_to_matrix(ins[DIGEST_COL])))
        dels = pdf[pdf["__op"] == -1]
        if len(dels):
            deleter = getattr(sk, "delete_hashes", None) or getattr(sk, "remove_hashes")
            deleter(fnv1a64(digests_to_matrix(dels[DIGEST_COL])))
        return pd.DataFrame({"shard": [int(pdf["__shard"].iloc[0])], "payload": [sk.to_bytes()]})

    rows = u.groupBy("__shard").applyInPandas(build_shard, schema=schema).collect()
    return _fold_blobs(r.payload for r in sorted(rows, key=lambda r: r.shard))


def rollup_keyed_sketches(
    df: DataFrame,
    spec: SketchSpec,
    hierarchy: list[str],
    key=None,
    value=None,
    salt_buckets: int = 16,
) -> DataFrame:
    """Hierarchical sketch rollup: ONE scan builds per-(finest-group, salt)
    partials; the finest level merges them per group; every coarser level —
    dropping hierarchy columns right to left, down to the grand total — is
    derived by merging the NEXT-FINER level's blobs, never re-reading the
    input. This is the mergeable-sketch form of a continuous-aggregate /
    hypertable rollup: because sketch merge is associative and lossless
    (HLL register-max, CMS counter-sum, ...), the rolled-up sketch at any
    level is byte-equivalent in its estimate to a sketch built directly at
    that granularity.

    Scale shape: the input is touched once (column-pruned scan + salted
    group partials — hot groups spread over ``salt_buckets`` tasks); each
    rollup step shuffles O(#finer-groups) KB-blobs, so the whole pyramid
    above the finest level costs less than one percent of the base scan.

    Returns one row per group per level: (level int = number of non-null
    group columns, <hierarchy cols as nullable strings>, payload binary,
    n_items long). The grand total has level 0 and all group columns NULL.
    """
    if not hierarchy:
        raise ValueError("hierarchy must name at least one grouping column")
    # The levels form a pyramid sharing one base subtree; each level is
    # pinned and forced so the input is scanned exactly once and every
    # coarser level reads the KB-scale in-memory blobs of the level below
    # (a lazy union would re-execute the base scan per branch).

    def _widen(lvl: DataFrame, group_cols: list[str]) -> DataFrame:
        sel = [F.lit(len(group_cols)).alias("level")]
        for c in hierarchy:
            sel.append(F.col(c) if c in group_cols else F.lit(None).cast("string").alias(c))
        return lvl.select(*sel, "payload", "n_items")

    with pinned() as pin:
        level = pin(_keyed_base(df, spec, {c: c for c in hierarchy}, key, value, salt_buckets))
        level.count()
        out = _widen(level, hierarchy)
        for i in range(len(hierarchy) - 1, -1, -1):
            keep = hierarchy[:i]
            if keep:
                level = level.groupBy(*keep).applyInPandas(_keyed_merge(keep), schema=_keyed_schema(keep))
            else:
                level = (
                    level.withColumn("__one", F.lit(1))
                    .groupBy("__one")
                    .applyInPandas(_keyed_merge([]), schema=_keyed_schema([]))
                )
            pin(level).count()
            out = out.unionByName(_widen(level, keep))
        return cut(out)


# --------------------------------------------------------------------- probe
def _probe(df: DataFrame, key, sketch: Sketch, out_col: str, dtype, query: Callable) -> DataFrame:
    """The one probe body: broadcast the merged blob, digest the key
    JVM-side, and add ``out_col`` = ``query(sketch)(h64)`` as ``dtype``
    (bool or int64) with one gather per Arrow batch. Keeps all original
    columns; no keys reach the driver."""
    blob_bc = df.sparkSession.sparkContext.broadcast(sketch.to_bytes())
    src = df.withColumn(DIGEST_COL, sha256_digest(_hashable(df, key)).alias(DIGEST_COL))
    keep_fields = [f for f in src.schema.fields if f.name != DIGEST_COL]
    out_type = BooleanType() if dtype is bool else LongType()
    out_schema = StructType(keep_fields + [StructField(out_col, out_type, True)])

    def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        answer = query(from_bytes(blob_bc.value))
        for batch in batches:
            if len(batch):
                got = np.asarray(answer(fnv1a64(digests_to_matrix(batch[DIGEST_COL]))), dtype=dtype)
            else:
                got = np.zeros(0, dtype=dtype)
            res = batch.drop(columns=[DIGEST_COL])
            res[out_col] = got
            yield res

    return src.mapInPandas(probe, schema=out_schema)


def probe_membership(df: DataFrame, key, sketch: Sketch, out_col: str = "bloom_hit") -> DataFrame:
    """Vectorized membership probe: broadcast the merged blob, probe each
    Arrow batch with one gather. Keeps all original columns."""
    return _probe(df, key, sketch, out_col, bool, lambda sk: sk.contains_hashes)


def probe_counts(df: DataFrame, key, sketch: Sketch, out_col: str = "est_count") -> DataFrame:
    """Vectorized count probe: like ``probe_membership`` but emits the
    sketch's per-key count estimate (CBF ``min_count`` / CMS
    ``query_hashes``) — one broadcast blob, one gather per Arrow batch,
    no keys to the driver."""
    if not (hasattr(sketch, "min_count") or hasattr(sketch, "query_hashes")):
        raise TypeError(f"{type(sketch).__name__} has no count query (min_count/query_hashes)")
    return _probe(
        df, key, sketch, out_col, np.int64, lambda sk: getattr(sk, "min_count", None) or sk.query_hashes
    )


# ---------------------------------------------------------------- checkpoint
def checkpoint_partials(partials: DataFrame, path: str) -> None:
    """Persist per-partition sketch blobs + lineage for resumable runs."""
    partials.write.mode("append").parquet(path)


def resume_or_build(
    spark: SparkSession,
    df: DataFrame,
    specs: list[SketchSpec],
    ckpt_path: str,
    key=None,
    value=None,
    num_partitions: int | None = None,
) -> dict[str, Sketch]:
    """Resume a sketch build from checkpointed partials.

    Partition ids are stable for a deterministic input partitioning (same
    files, same num_partitions, same engine version — the exchange that
    defines row→partition placement is part of the contract, so don't
    resume a checkpoint across engine upgrades). A partition counts as
    DONE only if the checkpoint holds a partial for EVERY requested
    ``SketchSpec.key()`` — resuming with a changed/extended spec set
    rebuilds every partition that is missing any of the new specs
    (round-1 collapsed the done-set to partition ids alone, so a new spec
    silently never built — ADVICE).

    What resume skips: the python-side kernel work and the checkpoint
    write for done partitions. The scan + digest + exchange re-run (they
    are what define the deterministic partition ids).

    The merge reads only checkpoint rows matching the requested specs, so
    stale rows from other spec sets in the same path are ignored.
    """
    spec_keys = {s.key() for s in specs}
    try:
        existing = spark.read.parquet(ckpt_path)
        seen: dict[int, set] = {}
        for r in existing.select("name", "params_hash", "partition_id").distinct().collect():
            seen.setdefault(int(r.partition_id), set()).add(f"{r.name}:{r.params_hash}")
        done_pids = {pid for pid, have in seen.items() if spec_keys <= have}
    except Exception:
        existing, done_pids = None, set()

    if existing is not None and done_pids:
        fresh = build_partials(
            df, specs, key=key, value=value, num_partitions=num_partitions, skip_partitions=done_pids
        )
        if fresh.limit(1).count() > 0:
            checkpoint_partials(fresh, ckpt_path)
    else:
        checkpoint_partials(
            build_partials(df, specs, key=key, value=value, num_partitions=num_partitions), ckpt_path
        )
    partials = spark.read.parquet(ckpt_path)
    want = F.concat_ws(":", "name", "params_hash").isin(sorted(spec_keys))
    sketches = collect_sketches(tree_merge(partials.where(want)))
    return {spec.key(): sketches[spec.key()] for spec in specs}
