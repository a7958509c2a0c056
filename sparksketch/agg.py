"""Spark aggregation layer: vectorized Arrow/pandas sketch UDAFs.

Execution design (SURVEY.md §4, BASELINE.json north_rule):

- **Hash in the JVM, ship ONE hash.** Items are hashed with Spark's
  built-in ``xxhash64`` (whole-stage-codegen, vectorized) into h1; the
  secondary EDH hash is derived worker-side by a SplitMix64 remix
  (``hashing.derive_h2``, applied by every sketch API when h2 is
  omitted), so a single hash column crosses the Arrow boundary — the
  crossing is the build's measured scaling bottleneck (BENCH.md) and
  hash bytes are its payload.  Python only does closed-form EDH
  arithmetic on whole Arrow batches.  No per-row Python.
- **Partial aggregation.** ``pandas_udf(GROUPED_AGG)`` has no map-side
  combine, so global sketches are built with ``mapInPandas`` — ONE sketch row
  per input partition, built fully vectorized — then merged with
  ``rdd.treeAggregate`` (depth ~ log4(P)).  Raw rows never shuffle; only
  KB-MB sketch blobs do.
- **Grouped aggregation** has two physical paths: ``grouped_sketch`` is
  two-phase ``applyInPandas`` ((group, salt) -> partial, then group ->
  merge) for low-cardinality groups; ``grouped_sketch_segmented`` builds
  per-(input partition, group) partials inside ``mapInPandas`` so raw rows
  never shuffle — the path for per-conversation sketches at billions of
  groups.  Salting/segmenting are sound because every mergeable sketch
  kind here has a commutative+associative merge.
- **Byte-identical associativity.** OR/sum/max/min-merge kinds (bloom,
  counting, layered, HLL, CMS, bottom-k, minhash) produce byte-identical
  results for ANY partitioning / merge order.  KLL and t-digest are
  deterministic given a fixed partitioning: every merge folds partials in
  sorted-partition order, so their results reproduce run to run.
- **Skew.** Hot groups are split by a salt derived from the item hash
  (``pmod(h1, salt)``), merged in a second, tiny shuffle.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import ClassVar, Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import BooleanType, LongType

from .hashing import combine_hashes
from .shape import Shape, StableShape
from .sketches import (BloomFilter, BottomKSketch, CountMinSketch,
                       CountingBloomFilter, HyperLogLog, KLLSketch,
                       LayeredBloomFilter, MinHashSketch, StableBloomFilter,
                       TDigest, merge_blob_list, sketch_from_bytes)
from .sketches.base import Sketch


def _partials_schema(names: Sequence[str]) -> str:
    """Partial-sketch rows: partition id, raw rows, one blob per sketch."""
    return ", ".join(["pid long", "rows long"]
                     + [f"`{n}` binary" for n in names])


PARTIAL_SCHEMA = _partials_schema(["sketch"])


def _norm_key(key) -> tuple:
    """Normalize a pandas ``groupby(dropna=False)`` key to a stable tuple:
    NaN/NaT/None all become ``None``.  Raw NaN keys are unusable as dict
    keys across Arrow batches (``nan != nan`` defeats the hash lookup
    unless pandas happens to hand back the same singleton) and unsortable
    against strings.

    CONTRACT (round-3 ADVICE): for float/double group columns this
    FOLDS real NaN keys into the NULL group, where native Spark groupBy
    keeps NaN as its own non-null group.  The conflation is partly
    forced upstream — the Arrow->pandas crossing already maps SQL NULL
    to NaN, so the two are indistinguishable by the time a pandas-side
    fold sees them.  Callers that need NaN as a distinct group must
    pre-normalize JVM-side (e.g. ``nanvl(col, lit(sentinel))`` or a
    ``isnan`` filter) before the mapInPandas stage."""
    kt = key if isinstance(key, tuple) else (key,)
    return tuple(None if v is None or v != v else v for v in kt)


def _null_last(key: tuple) -> tuple:
    """Sort key placing None group values last; never compares None with a
    concrete value (nulls-last flag sorts first)."""
    return tuple((1, "") if v is None else (0, v) for v in key)


# --------------------------------------------------------------------------
# Specs: how to prepare columns and feed batches into each sketch kind
# --------------------------------------------------------------------------

def _col_key(c: str | Column) -> str:
    """Stable identity for a key-column input.  Strings are themselves;
    Column objects fall back to repr() (public API, works under both
    classic and Connect — unlike the private ``_jc`` attribute)."""
    return c if isinstance(c, str) else repr(c)


@dataclass(frozen=True)
class SketchSpec:
    """Describes one sketch aggregation: key columns -> sketch kind."""

    value_col: str | None = field(default=None, init=False)

    def empty(self) -> Sketch:
        raise NotImplementedError

    def update(self, sk: Sketch, pdf: pd.DataFrame) -> None:
        raise NotImplementedError

    def est_bytes(self) -> int:
        """Approximate serialized size of one partial sketch — used to
        budget the driver-side collect in tree_aggregate (a 4 MB bloom x
        1024 partials is 4 GB of driver heap; the tree rounds must kick
        in by SIZE, not just row count)."""
        return len(self.empty().to_bytes())

    # columns the update() step reads from the Arrow batch
    BATCH_COLS: ClassVar[tuple[str, ...]] = ("h1", "value")

    # Batch cols update() ACTUALLY consumes when narrower than everything
    # prepare() emits (KLL/TDigest read only the value column; the h1 the
    # base class emits for them is pure Arrow-crossing waste — the JVM
    # row->Arrow serializer is the build's dominant per-value cost, see
    # tools/xp_serializer_cpu.py).  None = all emitted columns are used.
    USED_BATCH_COLS: ClassVar[tuple[str, ...] | None] = None

    # How this sketch's update commutes with a JVM-side pre-aggregation of
    # its key columns (build_partials_multi(prereduce=True)):
    #   "distinct" — insert is idempotent (bloom OR / HLL max / minhash
    #                min): feeding one row per DISTINCT key produces
    #                byte-identical sketches to feeding every raw row.
    #   "weighted" — cells are additive (CMS / counting): feeding one row
    #                per distinct key with its raw multiplicity (update_
    #                reduced reads ``_cnt``) is byte-identical.
    #   None       — not reducible (order/sequence-dependent kinds:
    #                stable, layered advance-on-fill) or value-carrying
    #                (KLL/t-digest: grouping by value gives no reduction
    #                and weighted insert would change the compaction
    #                schedule).
    REDUCE: ClassVar[str | None] = None

    def update_reduced(self, sk: Sketch, pdf: pd.DataFrame) -> None:
        """Update from a pre-reduced batch: one row per distinct key, raw
        multiplicity in the ``_cnt`` column.  Distinct-reducible kinds
        ignore the count; weighted kinds override."""
        self.update(sk, pdf)

    def prepare_keyed_exprs(self, cols: Sequence[str | Column],
                            prefix: str = "") -> list[tuple]:
        """``(batch_col, expr_key, Column)`` triples for this sketch's
        update step.  ``expr_key`` is built STRUCTURALLY from the spec's
        own inputs (ADVICE r04: parsing ``str(c._jc)`` breaks under Spark
        Connect and mis-dedupes when a name contains ' AS ') — two specs
        share a projected column iff their keys are equal."""
        keyed = [("h1", ("xxhash64", tuple(_col_key(c) for c in cols)),
                  F.xxhash64(*cols).alias(prefix + "h1"))]
        if self.value_col is not None:
            keyed.append(("value", ("cast_double", self.value_col),
                          F.col(self.value_col).cast("double")
                          .alias(prefix + "value")))
        return keyed

    def prepare_exprs(self, cols: Sequence[str | Column],
                      prefix: str = "") -> list[Column]:
        """JVM-side column expressions feeding this sketch's update step —
        these are the ONLY columns that cross the Arrow boundary.  Pruned
        to USED_BATCH_COLS when the spec declares update() reads less than
        the base class emits."""
        used = self.USED_BATCH_COLS
        return [c for bc, _, c in self.prepare_keyed_exprs(cols, prefix)
                if used is None or bc in used]

    def prepare(self, df: DataFrame, cols: Sequence[str | Column],
                keep: Sequence[str] = ()) -> DataFrame:
        """Project down to hash/value columns (column pruning reaches the
        scan)."""
        return df.select(*[F.col(c) for c in keep],
                         *self.prepare_exprs(cols))


@dataclass(frozen=True)
class BloomSpec(SketchSpec):
    shape: Shape
    REDUCE = "distinct"  # OR-set bits: insert is idempotent

    def empty(self) -> Sketch:
        return BloomFilter(self.shape)

    def update(self, sk, pdf) -> None:
        sk.add_hashes(pdf["h1"].to_numpy())


@dataclass(frozen=True)
class MixKeyBloomSpec(SketchSpec):
    """Bloom over a MULTI-column key whose composite hash is derived
    worker-side from one xxhash64 PER COLUMN (hashing.combine_hashes),
    instead of shipping an extra ``xxhash64(col_a, col_b, ...)`` column.

    Use when sibling sketches in the same one-pass build already hash the
    individual columns: build_partials_multi's structural dedup then
    projects each source column's hash ONCE, and the composite never
    crosses the Arrow boundary at all — the JVM row->Arrow serializer is
    the build's dominant per-value cost (tools/xp_arrow_identity.py), so
    at 100 TB one fewer crossed column is material.  The key universe
    differs from BloomSpec's (different composite hash function), so pick
    one spec per filter and stay with it; membership probes go through
    the same combine_hashes convention."""
    shape: Shape
    REDUCE = "distinct"  # OR-set bits: insert is idempotent

    def prepare_keyed_exprs(self, cols, prefix=""):
        return [(f"h1_{i}", ("xxhash64", (_col_key(c),)),
                 F.xxhash64(c).alias(f"{prefix}h1_{i}"))
                for i, c in enumerate(cols)]

    def empty(self) -> Sketch:
        return BloomFilter(self.shape)

    def update(self, sk, pdf) -> None:
        parts = []
        i = 0
        while True:
            try:
                parts.append(pdf[f"h1_{i}"].to_numpy())
            except KeyError:
                break
            i += 1
        sk.add_hashes(combine_hashes(*parts))


@dataclass(frozen=True)
class CountingBloomSpec(SketchSpec):
    shape: Shape
    # 16/32-bit saturating cells quarter/halve per-partial bytes at 100 TB
    # scale (counting.py codec v2); 64 keeps the v1 golden wire format
    cell_bits: int = 64

    def empty(self) -> Sketch:
        return CountingBloomFilter(self.shape, cell_bits=self.cell_bits)

    def update(self, sk, pdf) -> None:
        sk.add_hashes(pdf["h1"].to_numpy())


@dataclass(frozen=True)
class HLLSpec(SketchSpec):
    p: int = 14
    REDUCE = "distinct"  # register = max(rho): idempotent

    def empty(self) -> Sketch:
        return HyperLogLog(self.p)

    def update(self, sk, pdf) -> None:
        sk.add_hashes(pdf["h1"].to_numpy())


@dataclass(frozen=True)
class CMSSpec(SketchSpec):
    w: int = 1 << 16
    d: int = 4
    REDUCE = "weighted"  # cells are sums: +c once == +1 c times, exactly

    def empty(self) -> Sketch:
        return CountMinSketch(self.w, self.d)

    def update(self, sk, pdf) -> None:
        sk.add_hashes(pdf["h1"].to_numpy())

    def update_reduced(self, sk, pdf) -> None:
        sk.add_hashes(pdf["h1"].to_numpy(),
                      counts=pdf["_cnt"].to_numpy())


@dataclass(frozen=True)
class KLLSpec(SketchSpec):
    k: int = 200
    col: str = "value"
    USED_BATCH_COLS = ("value",)  # update() never reads h1

    def __post_init__(self):
        object.__setattr__(self, "value_col", self.col)

    def empty(self) -> Sketch:
        return KLLSketch(self.k)

    def est_bytes(self) -> int:
        return 64 + 3 * self.k * 8  # total level capacity ~ 3k float64s

    def update(self, sk, pdf) -> None:
        sk.add_values(pdf["value"].to_numpy())


@dataclass(frozen=True)
class TDigestSpec(SketchSpec):
    compression: float = 100.0
    col: str = "value"
    USED_BATCH_COLS = ("value",)  # update() never reads h1

    def __post_init__(self):
        object.__setattr__(self, "value_col", self.col)

    def empty(self) -> Sketch:
        return TDigest(self.compression)

    def est_bytes(self) -> int:
        return 64 + int(2 * self.compression) * 16  # centroid pairs

    def update(self, sk, pdf) -> None:
        sk.add_values(pdf["value"].to_numpy())


@dataclass(frozen=True)
class BottomKSpec(SketchSpec):
    k: int = 1024
    col: str | None = None  # optional payload value column

    def __post_init__(self):
        object.__setattr__(self, "value_col", self.col)

    def empty(self) -> Sketch:
        return BottomKSketch(self.k)

    def est_bytes(self) -> int:
        # the codec always serializes BOTH arrays (hashes + values, zeros
        # when payload-less) — estimating k*8 for col=None under-budgeted
        # the size-gated driver collect in tree_aggregate by 2x
        return 64 + self.k * 16

    def update(self, sk, pdf) -> None:
        vals = pdf["value"].to_numpy() if self.col is not None else None
        sk.add_hashes(pdf["h1"].to_numpy(), vals)


@dataclass(frozen=True)
class MinHashSpec(SketchSpec):
    n_perm: int = 128
    seed: int = 42
    REDUCE = "distinct"  # per-permutation min: idempotent

    def empty(self) -> Sketch:
        return MinHashSketch(self.n_perm, self.seed)

    def update(self, sk, pdf) -> None:
        sk.add_hashes(pdf["h1"].to_numpy())


@dataclass(frozen=True)
class LayeredBloomSpec(SketchSpec):
    """Layer key column must be an int64 bucket (e.g. epoch-hour of ts)."""
    shape: Shape
    layer_col: str = "layer"

    def __post_init__(self):
        object.__setattr__(self, "value_col", None)

    BATCH_COLS = ("layer", "h1")

    def prepare_keyed_exprs(self, cols, prefix=""):
        return [("layer", ("cast_long", self.layer_col),
                 F.col(self.layer_col).cast("long").alias(prefix + "layer")),
                ("h1", ("xxhash64", tuple(_col_key(c) for c in cols)),
                 F.xxhash64(*cols).alias(prefix + "h1"))]

    def empty(self) -> Sketch:
        return LayeredBloomFilter(self.shape)

    def est_bytes(self) -> int:
        # per-layer bitmap x layer count (unknown up front; budget for 64)
        return 64 + 64 * (self.shape.num_words * 8 + 8)

    def update(self, sk, pdf) -> None:
        sk.add_hashes(pdf["layer"].to_numpy(), pdf["h1"].to_numpy())


# --------------------------------------------------------------------------
# Global (ungrouped) aggregation: mapInPandas partials + tree merge.  One
# implementation builds and merges N sketches in one pass; the single-sketch
# calls are that path with the one name ``sketch``.
# --------------------------------------------------------------------------

def build_partials(df: DataFrame, spec: SketchSpec,
                   cols: Sequence[str | Column]) -> DataFrame:
    """One sketch row per input partition: :func:`build_partials_multi`
    with the single sketch name ``sketch``.
    Output: DataFrame[pid, rows, sketch, wall_sec]."""
    return build_partials_multi(df, {"sketch": (spec, cols)})


def tree_aggregate(partials: DataFrame, collect_max: int = 1024,
                   fanout: int = 64,
                   blob_bytes: int | None = None) -> bytes | None:
    """Merge single-sketch partial rows (:func:`build_partials` or
    :func:`stable_build` output) to one blob: :func:`tree_aggregate_multi`
    over the ``sketch`` column."""
    return tree_aggregate_multi(partials, ["sketch"], collect_max, fanout,
                                blob_bytes)["sketch"]


def sketch_dataframe(df: DataFrame, spec: SketchSpec,
                     cols: Sequence[str | Column]) -> Sketch:
    """Build + merge in one call; returns the deserialized final sketch."""
    return sketch_dataframe_multi(df, {"sketch": (spec, cols)})["sketch"]


def _collect_partials(partials: DataFrame) -> pd.DataFrame:
    """Pull partial-sketch rows to the driver through the Arrow collect path
    (``toPandas``), sorted by pid.  The row-object ``collect()`` path
    re-serializes each MB-scale binary per row and is ~50x slower — with
    128 x 4.5 MB partials it alone would dominate the whole build."""
    sess = partials.sparkSession
    key = "spark.sql.execution.arrow.pyspark.enabled"
    try:
        old = sess.conf.get(key)
    except Exception:
        old = None
    sess.conf.set(key, "true")
    try:
        pdf = partials.toPandas()
    finally:
        if old is not None:
            sess.conf.set(key, old)
        else:
            sess.conf.unset(key)
    return pdf.sort_values("pid")


DRIVER_COLLECT_BUDGET = 512 << 20  # max bytes of partial blobs collected


def _budgeted_collect_max(collect_max: int, blob_bytes: int | None) -> int:
    """Cap the driver-side collect by SIZE as well as row count: with a
    per-partial size hint (spec.est_bytes()), never pull more than
    DRIVER_COLLECT_BUDGET of blobs — extra tree rounds absorb the rest on
    the executors.  A 4 MB bloom at 10k partitions collects 128 rows per
    round instead of 10k (40 GB)."""
    if not blob_bytes or blob_bytes <= 0:
        return collect_max
    return max(min(collect_max, DRIVER_COLLECT_BUDGET // blob_bytes), 8)


def build_partials_multi(
        df: DataFrame,
        specs: dict[str, tuple[SketchSpec, Sequence[str | Column]]],
        prereduce: bool = False,
) -> DataFrame:
    """Build several sketches (possibly over different key columns) in ONE
    pass over the data: all hash/value columns are computed JVM-side in a
    single projection, the batch crosses the Arrow boundary once, and every
    sketch updates from the same batch.  At 100 TB this turns N scans into
    one — the scan is the cost; the sketch updates are cheap NumPy.

    Output: one row per input partition,
    ``pid long, rows long, <name> binary ..., wall_sec double`` (one binary
    column per spec; ``wall_sec`` is the partition's build time, recorded
    by checkpoint manifests).

    Specs that prepare IDENTICAL expressions (e.g. an HLL and a KLL both
    keyed on ``xxhash64(conv_id)``) share ONE projected column: the hash is
    computed once JVM-side and crosses the Arrow boundary once — at 100 TB
    the crossing is the build's dominant cost (measured ~90%% of
    over-scan time, tools/profile_build.py), so duplicate columns are
    pure waste.

    ``prereduce=True`` inserts a JVM-side partial aggregation BEFORE the
    Arrow crossing: the prepared hash columns are grouped
    (``groupBy(*hashes).count()`` — Tungsten hash-agg with map-side
    combine) and only one row per DISTINCT key tuple crosses, carrying its
    raw multiplicity in ``__cnt``.  Sound for every spec whose REDUCE is
    "distinct" (idempotent insert: identical bytes from the distinct set)
    or "weighted" (additive cells: identical bytes from count-weighted
    updates); raises for order/sequence-dependent or value-carrying specs.
    When keys repeat (conversations × tools at transcript scale), this
    shrinks the crossing — the build's measured dominant per-value cost
    (tools/xp_serializer_cpu.py) — by the key-repetition factor, and the
    worker-side scatter kernels with it.  The added exchange moves only
    the already-combined distinct stream.  The partial count follows the
    shuffle partitioning, so pass the session's shuffle partition count as
    ``est_parts`` to the merge."""
    names = list(specs)
    if prereduce:
        for name, (spec, _) in specs.items():
            if spec.REDUCE is None:
                raise ValueError(
                    f"spec {name!r} ({type(spec).__name__}) is not "
                    "pre-reducible: REDUCE is None (order-dependent or "
                    "value-carrying) — build it on the raw path")
    exprs: list[Column] = []
    # structural expr key -> canonical projected column name (ADVICE r04:
    # keys come from prepare_keyed_exprs, never from parsing the JVM
    # expression string — Connect-safe and immune to ' AS ' in names)
    seen: dict[tuple, str] = {}
    # spec name -> {batch col (h1/value/layer) -> projected column name}
    canon: dict[str, dict[str, str]] = {}
    for name, (spec, cols) in specs.items():
        canon[name] = {}
        used = spec.USED_BATCH_COLS
        for batch_col, expr_key, c in spec.prepare_keyed_exprs(
                cols, prefix=f"{name}__"):
            if used is not None and batch_col not in used:
                continue  # update() never reads it: don't cross it
            out_name = f"{name}__{batch_col}"
            if expr_key in seen:
                canon[name][batch_col] = seen[expr_key]
            else:
                seen[expr_key] = out_name
                canon[name][batch_col] = out_name
                exprs.append(c)
    prepared = df.select(*exprs)
    if prereduce:
        key_names = list(seen.values())
        prepared = (prepared.groupBy(*key_names)
                    .agg(F.count(F.lit(1)).alias("__cnt")))
        for n in names:
            canon[n]["_cnt"] = "__cnt"

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext
        t0 = time.monotonic()
        sks = {n: specs[n][0].empty() for n in names}
        rows = 0
        for pdf in batches:
            if not len(pdf):
                continue
            # "rows" records RAW rows processed, not crossed rows
            rows += int(pdf["__cnt"].sum()) if prereduce else len(pdf)
            for n in names:
                spec = specs[n][0]
                sub = pdf.rename(columns={
                    src: bc for bc, src in canon[n].items()})
                if prereduce:
                    spec.update_reduced(sks[n], sub)
                else:
                    spec.update(sks[n], sub)
        pid = TaskContext.get().partitionId()
        data = {"pid": [pid], "rows": [rows]}
        for n in names:
            data[n] = [sks[n].to_bytes()]
        data["wall_sec"] = [time.monotonic() - t0]
        yield pd.DataFrame(data)

    return prepared.mapInPandas(
        fn, schema=_partials_schema(names) + ", wall_sec double")


def tree_merge_round_multi(partials: DataFrame, names: Sequence[str],
                           fanout: int = 16) -> DataFrame:
    """One parallel tree round over a multi-sketch partials frame: fold
    groups of ``fanout`` rows (sorted by pid within each group — canonical)
    into one row per group, per sketch column."""

    def fold(key, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("pid")
        data = {"pid": [int(key[0])], "rows": [int(pdf["rows"].sum())]}
        for n in names:
            data[n] = [merge_blob_list(bytes(b) for b in pdf[n])]
        return pd.DataFrame(data)

    grouped = partials.select(
        "pid", "rows", *[F.col(f"`{n}`") for n in names]).withColumn(
        "_g", (F.col("pid") / F.lit(fanout)).cast("long"))
    return grouped.groupBy("_g").applyInPandas(fold, _partials_schema(names))


def tree_aggregate_multi(partials: DataFrame, names: Sequence[str],
                         collect_max: int = 1024,
                         fanout: int = 64,
                         blob_bytes: int | None = None,
                         est_parts: int | None = None) -> dict[str, bytes | None]:
    """Merge a multi-sketch partials frame to one blob per sketch name.

    Up to ``collect_max`` partials are pulled straight to the driver via the
    Arrow collect path and folded there (sub-second even for hundreds of
    MB-scale blobs).  Beyond that — true cluster scale — parallel tree
    rounds fold ``fanout`` rows into one executor-side first, so the driver
    only ever sees ``collect_max`` rows.  The rounds are DataFrame
    ``groupBy(pid // fanout)`` -> ``applyInPandas`` folds, so blobs stay in
    Arrow and AQE places the tiny shuffles.  Folds happen in sorted-pid
    order at every level (canonical).  ``blob_bytes`` = per-ROW total size
    hint (sum of the specs' est_bytes()) capping the collect by bytes.
    ``est_parts`` (when the caller knows the partial count, e.g. it chose
    the input partitioning) skips the ``.rdd`` partition probe — that
    conversion runs full plan analysis on the driver, a flat cost worth
    avoiding in latency-measured paths."""
    collect_max = _budgeted_collect_max(collect_max, blob_bytes)
    if est_parts is None:
        est_parts = partials.rdd.getNumPartitions()
    while est_parts > collect_max:
        partials = tree_merge_round_multi(partials, names, fanout)
        est_parts = int(np.ceil(est_parts / fanout))
    # collect ``partials`` itself, not a projection of it: the partition
    # probe above runs an adaptive plan's shuffle stages, and only the same
    # DataFrame reuses them
    pdf = _collect_partials(partials)
    return {n: merge_blob_list(bytes(b) for b in pdf[n]) for n in names}


def sketch_dataframe_multi(
        df: DataFrame,
        specs: dict[str, tuple[SketchSpec, Sequence[str | Column]]],
        prereduce: bool = False,
) -> dict[str, Sketch]:
    """One-pass build+merge of several sketches; returns deserialized finals.

    ``prereduce=True`` routes every spec whose REDUCE contract allows it
    through the pre-reduced crossing (JVM hash-agg before the Arrow
    boundary — byte-identical output, see build_partials_multi) and
    builds the rest on the raw path.  The split costs one extra pass,
    but each pass reads only its own specs' columns, so on columnar
    storage the two scans touch disjoint data; results are identical to
    ``prereduce=False`` for the reducible kinds by construction."""

    def run(sub: dict, reduce_: bool) -> dict[str, bytes | None]:
        return tree_aggregate_multi(
            build_partials_multi(df, sub, prereduce=reduce_), list(sub),
            blob_bytes=sum(s.est_bytes() for s, _ in sub.values()))

    if prereduce:
        red = {n: s for n, s in specs.items() if s[0].REDUCE is not None}
        raw = {n: s for n, s in specs.items() if s[0].REDUCE is None}
        blobs = {}
        if red:
            blobs.update(run(red, True))
        if raw:
            blobs.update(run(raw, False))
    else:
        blobs = run(specs, False)
    return {n: specs[n][0].empty() if blobs[n] is None
            else sketch_from_bytes(blobs[n]) for n in specs}


# --------------------------------------------------------------------------
# Grouped aggregation: two-phase applyInPandas with optional salting
# --------------------------------------------------------------------------

def grouped_sketch(df: DataFrame, group_cols: Sequence[str],
                   spec: SketchSpec, cols: Sequence[str | Column],
                   salt: int | None = None) -> DataFrame:
    """``groupBy(group_cols).agg(sketch)`` -> DataFrame[*group_cols, sketch,
    rows].

    With ``salt=S``, hot groups are split S ways on ``pmod(h1, S)`` first
    (partial sketches), then re-merged — valid because merges are
    associative+commutative.  Two small shuffles replace one skewed one.
    """
    prepared = spec.prepare(df, cols, keep=group_cols)
    gtypes = dict(df.select(*group_cols).dtypes)
    out_schema = ", ".join([f"`{c}` {gtypes[c]}" for c in group_cols]
                           + ["sketch binary", "rows long"])

    def build(key, pdf: pd.DataFrame) -> pd.DataFrame:
        sk = spec.empty()
        spec.update(sk, pdf)
        data = {c: [key[i]] for i, c in enumerate(group_cols)}
        data["sketch"] = [sk.to_bytes()]
        data["rows"] = [len(pdf)]
        return pd.DataFrame(data)

    if salt is None:
        return prepared.groupBy(*group_cols).applyInPandas(build, out_schema)

    # Salt from the item hash, computed independently of the spec's batch
    # columns: KLL/TDigest prune the unused h1 from their crossing and
    # MixKey specs emit per-column hashes, so F.col("h1") is not a column
    # every prepared frame has.  pmod(xxhash64(*cols), salt) equals the
    # old pmod(h1, salt) for single-hash specs — byte-identical results.
    salted = spec.prepare(
        df.withColumn("_salt", F.pmod(F.xxhash64(*cols), F.lit(salt))),
        cols, keep=[*group_cols, "_salt"])

    stage1 = salted.groupBy(*group_cols, "_salt").applyInPandas(
        build, out_schema)

    def merge_group(key, pdf: pd.DataFrame) -> pd.DataFrame:
        blob = merge_blob_list(bytes(b) for b in pdf["sketch"])
        data = {c: [key[i]] for i, c in enumerate(group_cols)}
        data["sketch"] = [blob]
        data["rows"] = [int(pdf["rows"].sum())]
        return pd.DataFrame(data)

    return stage1.groupBy(*group_cols).applyInPandas(merge_group, out_schema)


def grouped_sketch_segmented(df: DataFrame, group_cols: Sequence[str],
                             spec: SketchSpec,
                             cols: Sequence[str | Column]) -> DataFrame:
    """Grouped sketch aggregation for HIGH-CARDINALITY groups (e.g. one
    sketch per ``conv_id`` at billions of conversations).

    ``grouped_sketch`` shuffles every raw row to its group (applyInPandas
    has no map-side combine) — fine for roles/days, fatal at 10^9 groups x
    10^3 rows.  This variant is the map-side combine made explicit:

    - **stage 1** (``mapInPandas``, NO shuffle): each input partition
      builds one partial sketch per group it contains, segmented inside the
      Arrow batches — raw rows never leave their partition;
    - **stage 2** (:func:`regroup_sketch_rows`): only the KB-scale
      partial-sketch rows shuffle (at most partitions x groups-per-
      partition rows), merged per group — valid because every mergeable
      kind here is associative+commutative.

    Executor memory holds O(groups-in-partition x sketch bytes) during
    stage 1: pick compact specs for ultra-high cardinality (bottom-k with
    small k, HLL p<=12).  If the input is already hash-partitioned by the
    group key, stage 1 emits exactly one row per group and stage 2 merges
    singletons.

    Stage 2 is ALSO segmented (``repartition(group)`` + ``mapInPandas``
    dict-fold) rather than ``applyInPandas``: per-group Arrow slicing
    costs ~ms per group, which at 10^6+ groups dominates everything —
    the dict-fold costs ~us per group.  Partials merge in sorted
    stage-1-partition order (``_pid``) per group, so grouped results are
    deterministic for every sketch kind including the compacting ones.
    """
    group_cols = list(group_cols)
    prepared = spec.prepare(df, cols, keep=group_cols)
    gtypes = dict(df.select(*group_cols).dtypes)
    out_schema = ", ".join([f"`{c}` {gtypes[c]}" for c in group_cols]
                           + ["sketch binary", "rows long"])

    def build_segmented(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext
        sks: dict[tuple, list] = {}
        for pdf in batches:
            if not len(pdf):
                continue
            for key, sub in pdf.groupby(group_cols, sort=False,
                                        dropna=False):
                key = _norm_key(key)
                ent = sks.get(key)
                if ent is None:
                    ent = sks[key] = [spec.empty(), 0]
                spec.update(ent[0], sub)
                ent[1] += len(sub)
        if sks:
            pid = TaskContext.get().partitionId()
            keys = sorted(sks, key=_null_last)  # canonical emit order
            data = {c: [k[i] for k in keys] for i, c in enumerate(group_cols)}
            data["sketch"] = [sks[k][0].to_bytes() for k in keys]
            data["rows"] = [sks[k][1] for k in keys]
            data["_pid"] = pid
            yield pd.DataFrame(data)

    stage1 = prepared.mapInPandas(build_segmented,
                                  out_schema + ", _pid long")
    return regroup_sketch_rows(stage1, group_cols, order_cols=["_pid"])


def regroup_sketch_rows(grouped: DataFrame, group_cols: Sequence[str],
                        order_cols: Sequence[str] = ()) -> DataFrame:
    """Merge an existing ``[*keys, sketch, rows]`` frame down to a COARSER
    key set — because every sketch kind here is mergeable, rollups /
    grouping-set views are an algebra over KB-scale sketch rows, never a
    rescan of the data.  ``order_cols`` (e.g. the dropped dims) fixes the
    per-group merge order for determinism."""
    group_cols = list(group_cols)
    ktypes = dict(grouped.dtypes)
    out_schema = ", ".join([f"`{c}` {ktypes[c]}" for c in group_cols]
                           + ["sketch binary", "rows long"])
    sort_cols = group_cols + [c for c in order_cols
                              if c in ktypes and c not in group_cols]

    def fold(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc: dict[tuple, list] = {}
        for pdf in batches:
            if not len(pdf):
                continue
            it = (pdf.groupby(group_cols, sort=False, dropna=False)
                  if group_cols else [((), pdf)])
            for key, sub in it:
                key = _norm_key(key)
                ent = acc.get(key)
                blobs = [bytes(b) for b in sub["sketch"]]
                if ent is None:
                    acc[key] = [merge_blob_list(blobs),
                                int(sub["rows"].sum())]
                else:
                    ent[0] = merge_blob_list([ent[0], *blobs])
                    ent[1] += int(sub["rows"].sum())
        if acc:
            keys = sorted(acc, key=_null_last)
            data = {c: [k[i] for k in keys]
                    for i, c in enumerate(group_cols)}
            data["sketch"] = [acc[k][0] for k in keys]
            data["rows"] = [acc[k][1] for k in keys]
            yield pd.DataFrame(data)

    src = grouped
    if group_cols:
        src = (src.repartition(*group_cols)
               .sortWithinPartitions(*sort_cols))
    else:
        src = src.coalesce(1)
        if sort_cols:
            src = src.sortWithinPartitions(*sort_cols)
    return src.mapInPandas(fold, out_schema)


def grouped_sketch_cube(df: DataFrame, dims: Sequence[str],
                        spec: SketchSpec,
                        cols: Sequence[str | Column]) -> DataFrame:
    """ONE-SCAN CUBE over sketches (SURVEY Table C grouping sets): the
    finest per-(all dims) sketches are built once from the data, and every
    coarser grouping set — down to the global () — is derived by MERGING
    those sketch rows (regroup_sketch_rows).  At 100 TB this turns the 2^d
    scans a naive CUBE costs into one scan + KB-row merges.  Output has
    SQL ``GROUP BY CUBE`` shape: absent dims are NULL.

    Exactness note: deriving coarse sets by merge is exact for the
    commutative kinds (bloom/HLL/CMS/bottom-k/minhash); compacting kinds
    (KLL/t-digest) remain within their published bound but may differ
    bitwise from a direct coarse build.
    """
    from functools import reduce
    from itertools import combinations
    from pyspark import StorageLevel
    dims = list(dims)
    dtypes = dict(df.select(*dims).dtypes)
    from .caching import track_cache
    finest = track_cache(grouped_sketch_segmented(df, dims, spec, cols)
                         .persist(StorageLevel.MEMORY_AND_DISK))
    frames = []
    for r in range(len(dims), -1, -1):
        for subset in combinations(dims, r):
            sub = list(subset)
            g = (finest if sub == dims
                 else regroup_sketch_rows(finest, sub, order_cols=dims))
            frames.append(g.select(
                *[(F.col(c) if c in sub
                   else F.lit(None).cast(dtypes[c])).alias(c)
                  for c in dims],
                "sketch", "rows"))
    return reduce(lambda a, b: a.unionByName(b), frames)


def with_sketch_quantile(df: DataFrame, q: float,
                         out_col: str = "quantile",
                         sketch_col: str = "sketch") -> DataFrame:
    """Adds each row's sketch ``quantile(q)`` (KLL / t-digest rows) as a
    double — evaluated on the EXECUTORS, so billions of per-group quantile
    sketches never ship blobs to the driver to read one number out of
    each (the companion to :func:`with_sketch_estimate`)."""

    @F.pandas_udf("double")
    def quant(blobs: pd.Series) -> pd.Series:
        out = np.empty(len(blobs), dtype=np.float64)
        for i, b in enumerate(blobs):
            out[i] = float(sketch_from_bytes(bytes(b)).quantile(q))
        return pd.Series(out)

    return df.withColumn(out_col, quant(F.col(sketch_col)))


def with_sketch_estimate(df: DataFrame, out_col: str = "estimate",
                         sketch_col: str = "sketch") -> DataFrame:
    """Adds each row's sketch estimate (distinct count for bottom-k/HLL/
    bloom, n for KLL/t-digest) as a double — evaluated on the EXECUTORS, so
    high-cardinality grouped results never ship sketch blobs to the driver
    just to read one number out of each."""

    @F.pandas_udf("double")
    def est(blobs: pd.Series) -> pd.Series:
        out = np.empty(len(blobs), dtype=np.float64)
        for i, b in enumerate(blobs):
            sk = sketch_from_bytes(bytes(b))
            if hasattr(sk, "distinct_estimate"):
                out[i] = float(sk.distinct_estimate())
            elif hasattr(sk, "estimate"):
                out[i] = float(sk.estimate())
            elif hasattr(sk, "estimate_n"):
                out[i] = float(sk.estimate_n())
            else:
                out[i] = float(getattr(sk, "n", float("nan")))
        return pd.Series(out)

    return df.withColumn(out_col, est(F.col(sketch_col)))


# --------------------------------------------------------------------------
# Scalar sketch functions over DataFrames
# --------------------------------------------------------------------------

_SKETCH_CACHE: dict[bytes, Sketch] = {}


def _cached_sketch(blob: bytes) -> Sketch:
    sk = _SKETCH_CACHE.get(blob)
    if sk is None:
        if len(_SKETCH_CACHE) > 8:
            _SKETCH_CACHE.clear()
        sk = sketch_from_bytes(blob)
        _SKETCH_CACHE[blob] = sk
    return sk


# Large probe blobs ship as Spark broadcasts (one torrent fetch per
# executor) instead of riding the UDF closure into every task; small ones
# stay inline — a broadcast round-trip costs more than a KB closure.
BLOB_BROADCAST_THRESHOLD = 4 << 20

_PROBE_TOKEN_COUNTER = [0]

# executor-side decode memo: token -> {"payload": ..., "sketches": {key: Sketch}}
# Tokens are minted per driver-side probe call, so a memo hit means "same
# probe op, later Arrow batch / task in the same worker" — decode happens
# once per worker, not once per batch.
_PROBE_MEMO: dict[str, dict] = {}


def _mint_probe_token(tag: str) -> str:
    _PROBE_TOKEN_COUNTER[0] += 1
    return f"{tag}:{_PROBE_TOKEN_COUNTER[0]}"


def _ship_blob(df: DataFrame, payload):
    """Driver side: returns (token, bc, inline) — bc is a Broadcast when the
    payload is large, else the payload ships inline in the closure.  The
    broadcast registers in the cache-lifetime registry so long-lived
    sessions can evict executor copies between queries (Broadcast exposes
    the same ``unpersist()`` surface the registry calls)."""
    token = _mint_probe_token("probe")
    nbytes = (len(payload) if isinstance(payload, (bytes, bytearray))
              else sum(len(v) for v in payload.values()))
    if nbytes >= BLOB_BROADCAST_THRESHOLD:
        from .caching import track_cache
        bc = track_cache(df.sparkSession.sparkContext.broadcast(payload))
        return token, bc, None
    return token, None, payload


def _probe_entry(token: str, bc, inline) -> dict:
    """Executor side: memoized payload fetch (+ per-key sketch decode
    cache).  LRU (move-to-end on hit, round-3 ADVICE): with >5 probe ops
    interleaving batches on one worker, insertion-order eviction would
    drop the entry of an op whose tasks are still streaming and force a
    multi-MB re-decode per subsequent batch; recency-order evicts the op
    that stopped being probed."""
    ent = _PROBE_MEMO.get(token)
    if ent is not None:
        _PROBE_MEMO[token] = _PROBE_MEMO.pop(token)  # move to MRU end
        return ent
    while len(_PROBE_MEMO) > 4:
        # evict the LEAST-RECENTLY-USED token only: a blanket clear()
        # would also drop entries of probe ops still running
        # interleaved batches
        del _PROBE_MEMO[next(iter(_PROBE_MEMO))]
    payload = bc.value if bc is not None else inline
    ent = _PROBE_MEMO[token] = {"payload": payload, "sketches": {}}
    return ent


def _probe_sketch(token: str, bc, inline, acc=None) -> Sketch:
    ent = _probe_entry(token, bc, inline)
    sk = ent["sketches"].get(None)
    if sk is None:
        sk = ent["sketches"][None] = sketch_from_bytes(ent["payload"])
        if acc is not None:  # test observability: count REAL decodes
            acc.add(1)
    return sk


def _probe_keyed_sketch(token: str, bc, inline, key, acc=None) -> Sketch | None:
    """Lazy per-key decode: only keys actually present in a batch are ever
    deserialized, and each at most once per worker.  ``acc`` (a Spark
    accumulator) counts actual decodes so tests can observe the
    once-per-worker contract from the cluster side."""
    ent = _probe_entry(token, bc, inline)
    sks = ent["sketches"]
    if key in sks:
        return sks[key]
    blob = ent["payload"].get(key)
    sk = sketch_from_bytes(blob) if blob is not None else None
    if sk is not None and acc is not None:
        acc.add(1)
    sks[key] = sk
    return sk


def with_might_contain(df: DataFrame, blob: bytes,
                       cols: Sequence[str | Column],
                       out_col: str = "might_contain") -> DataFrame:
    """Adds a boolean membership column probing a broadcast Bloom-family
    sketch — Spark's bloom-semi-join pattern (cf. the engine-internal
    BloomFilterMightContain runtime filter), expressed as a vectorized
    pandas UDF over JVM-computed hashes.  Blobs above
    ``BLOB_BROADCAST_THRESHOLD`` ship as a Spark broadcast with a
    once-per-worker decode memo."""
    token, bc, inline = _ship_blob(df, blob)

    @F.pandas_udf(BooleanType())
    def probe(h1: pd.Series) -> pd.Series:
        sk = (_probe_sketch(token, bc, inline) if bc is not None
              else _cached_sketch(inline))
        return pd.Series(sk.contains_hashes(h1.to_numpy()))

    return df.withColumn(out_col, probe(F.xxhash64(*cols)))


def with_layer_find(df: DataFrame, blob: bytes,
                    cols: Sequence[str | Column],
                    out_col: str = "layers", decode_acc=None) -> DataFrame:
    """Adds an ``array<long>`` column of the layer keys containing each
    row's item — the commons LayeredBloomFilter ``find`` operation as a
    distributed probe (broadcast blob in the UDF closure, JVM hashing,
    vectorized batch probe).  In the zero-FP regime the array is exactly
    the set of layer keys (e.g. time buckets) where the item occurred, so
    ``explode + groupBy(layer)`` counts per-layer distinct members without
    any driver-side materialization."""
    token, bc, inline = _ship_blob(df, blob)

    @F.pandas_udf("array<long>")
    def probe(h1: pd.Series) -> pd.Series:
        sk = (_probe_sketch(token, bc, inline, decode_acc)
              if bc is not None else _cached_sketch(inline))
        return pd.Series(sk.find_hashes(h1.to_numpy()))

    return df.withColumn(out_col, probe(F.xxhash64(*cols)))


def with_keyed_layer_find(df: DataFrame, blobs: dict,
                          key_col: str, cols: Sequence[str | Column],
                          out_col: str = "layers",
                          decode_acc=None) -> DataFrame:
    """Per-row ``find`` against the layered sketch selected by the row's
    ``key_col`` value (per-stream / per-tenant sketches): probing N keyed
    sketches costs ONE job instead of N.  Rows with keys absent from
    ``blobs`` get an empty array.  The dict ships inline when small, as a
    Spark broadcast when large; either way each key's blob is decoded
    LAZILY — only if some batch actually probes that key — and at most
    once per worker (not per Arrow batch)."""
    token, bc, inline = _ship_blob(df, dict(blobs))

    @F.pandas_udf("array<long>")
    def probe(keys: pd.Series, h1: pd.Series) -> pd.Series:
        kn, h1n = keys.to_numpy(), h1.to_numpy()
        out: list = [[]] * len(keys)
        for k in pd.unique(keys):
            mask = kn == k
            sk = _probe_keyed_sketch(token, bc, inline, k, decode_acc)
            if sk is None:
                continue
            hits = sk.find_hashes(h1n[mask])
            for pos, h in zip(np.flatnonzero(mask), hits):
                out[pos] = h
        return pd.Series(out)

    return df.withColumn(
        out_col, probe(F.col(key_col), F.xxhash64(*cols)))


def bloom_semijoin(probe_df: DataFrame, probe_cols: Sequence[str],
                   build_df: DataFrame, build_cols: Sequence[str],
                   expected_n: int | None = None,
                   fpp: float = 1e-6) -> DataFrame:
    """Pre-filter ``probe_df`` to rows whose key might exist in ``build_df``.

    Builds a Bloom filter over the (small) build side with treeAggregate and
    broadcasts the KB-scale blob inside the UDF closure — no shuffle of the
    probe side, filter applied map-side.  With m >> n the filter is
    effectively exact (zero FP), making this a drop-in distributed semi-join
    data-reduction operator (A6 -> "bloom semi-join" per SURVEY.md Table C).

    ``expected_n=None`` sizes the filter from a ``count()`` of the build
    side — a cheap metadata/pushdown scan that keeps m proportional to the
    data instead of a worst-case guess (an oversized bitmap costs far more
    in partial-sketch bytes than the count saves).
    """
    if expected_n is None:
        expected_n = build_df.count()
    shape = Shape.from_np(max(expected_n, 1), fpp)
    bspec = BloomSpec(shape)
    blob = tree_aggregate(build_partials(build_df, bspec, build_cols),
                          blob_bytes=bspec.est_bytes())
    if blob is None:
        return probe_df.limit(0)
    flagged = with_might_contain(probe_df, blob, probe_cols, "_mc")
    return flagged.filter(F.col("_mc")).drop("_mc")


def bloom_anti_join(probe_df: DataFrame, probe_cols: Sequence[str],
                    build_df: DataFrame, build_cols: Sequence[str],
                    expected_n: int | None = None,
                    fpp: float = 1e-3) -> DataFrame:
    """EXACT distributed anti-join (blocklist exclusion) with Bloom data
    reduction — the complement of :func:`bloom_semijoin` and the shape a
    100 TB "subtract this id blocklist" pass needs.

    A Bloom "no" is always certain, so rows whose key the filter rejects —
    the overwhelming majority when the blocklist is small — pass map-side
    with NO shuffle.  Only the "maybe" rows (true members plus ~``fpp`` of
    the stream) reach an exact ``left_anti`` join against the distinct
    build keys, which removes the false positives.  Unlike the semi-join
    (which needs m >> n to be effectively exact), the anti-join is exact
    at ANY fpp, so the filter can stay small: the shuffled volume drops
    from |probe| to |members| + fpp * |probe|.

    Plan shape (deliberate): the probe side is scanned TWICE — once per
    branch of the union — rather than once with every row shuffled into
    the cleanup join.  At 100 TB a second map-side columnar scan is far
    cheaper than shuffling the full probe side (a shuffle writes + reads +
    networks every row); callers who prefer one scan can persist the
    flagged frame themselves.  Catalyst's constraint propagation also
    infers the probe predicate onto the build side of the cleanup join —
    a no-op filter (every build key passes its own bloom) on the small
    side, left in place to keep the plan declarative.
    """
    if expected_n is None:
        expected_n = build_df.count()
    if expected_n == 0:
        return probe_df
    shape = Shape.from_np(max(expected_n, 1), fpp)
    bspec = BloomSpec(shape)
    blob = tree_aggregate(build_partials(build_df, bspec, build_cols),
                          blob_bytes=bspec.est_bytes())
    if blob is None:
        return probe_df
    flagged = with_might_contain(probe_df, blob, probe_cols, "_mc")
    definite_out = flagged.filter(~F.col("_mc")).drop("_mc")
    build_keys = build_df.select(
        *[F.col(b).alias(p) for p, b in zip(probe_cols, build_cols)]
    ).distinct()
    survivors = (flagged.filter(F.col("_mc")).drop("_mc")
                 .join(build_keys, on=list(probe_cols), how="left_anti"))
    return definite_out.unionByName(survivors)


def cms_heavy_hitters(df: DataFrame, cols: Sequence[str],
                      min_count: int, w: int = 1 << 16,
                      d: int = 5) -> DataFrame:
    """Heavy hitters with guaranteed recall: keys with global count >=
    ``min_count`` (SURVEY.md Table C "top-k heavy hitters = CMS estimate +
    candidate pass").

    One pass produces (a) per-partition CMS partials and (b) per-partition
    LOCAL candidates: keys with local count >= min_count / P.  By
    pigeonhole, any key with global count >= min_count exceeds that local
    bar in at least one of the P partitions, so the candidate union has NO
    false negatives; raw keys never shuffle — only candidates do.  The
    merged CMS (one-sided overestimate) then scores candidates and keeps
    est >= min_count: still zero false negatives, and false positives are
    bounded by the CMS eps*N guarantee.  With w >> distinct keys the
    result is exactly ``GROUP BY ... HAVING count(*) >= min_count``.

    Output: DataFrame[*cols, est_count] (candidate keys with their CMS
    estimates, filtered to est >= min_count).
    """
    spec = CMSSpec(w=w, d=d)
    blob = tree_aggregate(build_partials(df, spec, cols),
                          blob_bytes=spec.est_bytes())
    if blob is None:
        return df.select(*cols).limit(0).withColumn(
            "est_count", F.lit(0).cast("long"))
    # local candidate pass: partial-agg counts (map-side combine by
    # Catalyst) filtered to the pigeonhole bar.  The bar's partition count
    # P is derived from the SAME per-partition counts frame (max(_pid)+1),
    # not from a separate rdd.getNumPartitions() job — if the candidate
    # scan runs with more map partitions than planned (source re-split,
    # AQE), the bar loosens with it, preserving the zero-false-negative
    # guarantee.  The groupBy exchange is shared by both branches
    # (ReusedExchange), so this costs no extra scan.
    local_counts = (df.groupBy(F.spark_partition_id().alias("_pid"), *cols)
                    .agg(F.count("*").alias("_lc")))
    p_actual = local_counts.select(
        (F.max("_pid") + F.lit(1)).alias("_P"))
    local = (local_counts.crossJoin(F.broadcast(p_actual))
             .filter(F.col("_lc") >= F.greatest(
                 F.floor(F.lit(min_count) / F.col("_P")), F.lit(1)))
             .select(*cols).distinct())
    scored = cms_lookup(local, blob, cols, out_col="est_count")
    return scored.filter(F.col("est_count") >= min_count)


def cms_lookup(df: DataFrame, blob: bytes,
               cols: Sequence[str | Column],
               out_col: str = "cms_count") -> DataFrame:
    """Adds an approximate-count column from a broadcast count-min sketch."""
    token, bc, inline = _ship_blob(df, blob)

    @F.pandas_udf(LongType())
    def probe(h1: pd.Series) -> pd.Series:
        sk = (_probe_sketch(token, bc, inline) if bc is not None
              else _cached_sketch(inline))
        return pd.Series(sk.query_hashes(h1.to_numpy()))

    return df.withColumn(out_col, probe(F.xxhash64(*cols)))


def fill_layered_build(df: DataFrame, shape: Shape, target_n: int,
                       cols: Sequence[str | Column],
                       stream_col: str | Column,
                       order_cols: Sequence[str],
                       num_partitions: int | None = None,
                       max_layers: int = 0) -> DataFrame:
    """Distributed fill-policy layered build (commons LayerManager
    advance-on-saturation): one fill-layered filter per ``stream_col``
    value, replayed in ``order_cols`` order — the active layer rolls
    whenever its ``estimate_n`` crosses ``target_n``.

    Order-dependent like the stable filter, so the same deterministic-
    replay contract applies: streams are hash-co-located
    (``repartition(stream)``), sorted within partitions by
    (stream, *order_cols), and replayed segment-by-segment inside ONE
    ``mapInPandas`` pass (streams are contiguous after the sort; a dict
    carries filters across Arrow batch boundaries).  Cross-stream
    combination goes through ``as_layered()`` into the associative
    keyed-layer domain.

    Output: DataFrame[stream, sketch, rows, n_layers] — sketch is the
    keyed-layer (``as_layered``) serialization, layer key = advance
    ordinal.
    """
    from .sketches import FillLayeredBloomFilter
    nparts = num_partitions or df.rdd.getNumPartitions()
    scol = (F.col(stream_col) if isinstance(stream_col, str) else stream_col)
    arranged = (df.withColumn("_stream", scol)
                  .repartition(nparts, "_stream")
                  .sortWithinPartitions("_stream", *order_cols))
    prepared = arranged.select(
        F.col("_stream"), F.xxhash64(*cols).alias("h1"))
    stype = dict(prepared.dtypes)["_stream"]

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        sks: dict = {}
        rows: dict = {}
        for pdf in batches:
            if not len(pdf):
                continue
            for val, sub in pdf.groupby("_stream", sort=False,
                                        dropna=False):
                (val,) = _norm_key(val)
                sk = sks.get(val)
                if sk is None:
                    sk = sks[val] = FillLayeredBloomFilter(
                        shape, target_n, max_layers=max_layers)
                    rows[val] = 0
                sk.insert_hashes(sub["h1"].to_numpy())
                rows[val] += len(sub)
        if sks:
            keys = sorted(sks, key=lambda v: _null_last((v,)))
            yield pd.DataFrame({
                "stream": keys,
                "sketch": [sks[k].as_layered().to_bytes() for k in keys],
                "rows": [rows[k] for k in keys],
                "n_layers": [sks[k].n_layers for k in keys]})

    return prepared.mapInPandas(
        fn, schema=f"stream {stype}, sketch binary, rows long, n_layers long")


# --------------------------------------------------------------------------
# Stable filter: deterministic ordered replay per partition
# --------------------------------------------------------------------------

def stable_build(df: DataFrame, sshape: StableShape,
                 cols: Sequence[str | Column],
                 partition_col: str, order_cols: Sequence[str],
                 num_partitions: int | None = None,
                 seed: int = 42) -> DataFrame:
    """Distributed stable-BF build: hash-partition by ``partition_col``,
    sort within partitions by (partition_col, *order_cols), then replay
    insertions sequentially per partition with a PRNG seeded by
    (seed, partition_id) — byte-identical across runs given the same
    partitioning (SURVEY.md §4 hard-part 1; input_hint stable
    (conv_id, turn_idx) ordering).

    Output: DataFrame[pid, sketch, rows] — one decaying-membership sketch
    per partition.  Cross-partition combination goes through flatten() into
    the associative bitmap domain."""
    nparts = num_partitions or df.rdd.getNumPartitions()
    arranged = (df.repartition(nparts, partition_col)
                  .sortWithinPartitions(partition_col, *order_cols))
    prepared = arranged.select(F.xxhash64(*cols).alias("h1"))

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext
        pid = TaskContext.get().partitionId()
        sk = StableBloomFilter(sshape, seed=seed ^ (pid * 0x9E3779B1))
        rows = 0
        for pdf in batches:
            if len(pdf):
                sk.insert_hashes(pdf["h1"].to_numpy())
                rows += len(pdf)
        yield pd.DataFrame({"pid": [pid], "sketch": [sk.to_bytes()],
                            "rows": [rows]})

    return prepared.mapInPandas(fn, schema=PARTIAL_SCHEMA)
