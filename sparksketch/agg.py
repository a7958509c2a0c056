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
- **One stage-1 builder**, :func:`_grouped_partials`: each input
  partition builds one partial sketch row per group it contains inside
  ONE ``mapInPandas`` (``pandas_udf(GROUPED_AGG)`` has no map-side
  combine), for any number of specs over one shared projection, with an
  optional JVM pre-reduce of the hash columns before the Arrow crossing.
  Raw rows never shuffle; only KB-MB sketch blobs do.
- **Partial aggregation** (global sketches) is that builder with no
  group columns: :func:`build_partials_multi` emits ONE sketch row per
  input partition, empty partitions included, merged by
  :func:`tree_aggregate_multi`: a ``toArrow()`` collect of the partial
  rows, folded on the driver in pid order, with ``mapInArrow`` fold
  rounds keyed on ``pid // fanout`` on the executors first when there are
  more than ``collect_max``.
- **Grouped aggregation**, :func:`grouped_sketch`, is the same builder
  with group columns; only its sketch rows shuffle to be merged.
  Sketch ROWS fold in one place, :func:`fold_sketch_runs`: rows sorted by
  group are runs, each merged by ``merge_blob_runs`` — one stacked NumPy
  max/OR for HLL and dense Bloom, decode-and-merge for the other kinds.
  :func:`regroup_sketch_rows` (stage 2 of the grouped build, view appends
  and queries, streaming windows, the cube, the global merge's tree
  rounds) calls it per Arrow batch in a ``mapInArrow``; view compaction
  and the ``sketchview`` reader call it per bucket.  Partials are sound
  because every mergeable sketch kind here has a commutative+associative
  merge.
- **Byte-identical associativity.** OR/sum/max/min-merge kinds (bloom,
  counting, layered, HLL, CMS, bottom-k, minhash) produce byte-identical
  results for ANY partitioning / merge order.  KLL and t-digest are
  deterministic given a fixed partitioning: every merge folds partials in
  sorted-partition order, so their results reproduce run to run.
- **Skew.** The grouped build's map-side combine bounds a hot group to
  one partial row per input partition before anything shuffles.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import ClassVar, Collection, Iterator, Sequence

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import (BinaryType, BooleanType, DoubleType,
                               LongType, StructField, StructType)

from .hashing import combine_hashes
from .io import WRITTEN_SCHEMA, fs_path, write_part
from .shape import Shape, StableShape
from .sketches import (BloomFilter, BottomKSketch, CountMinSketch,
                       CountingBloomFilter, HyperLogLog, KLLSketch,
                       LayeredBloomFilter, MinHashSketch, StableBloomFilter,
                       TDigest, merge_blob_list, sketch_from_bytes)
from .sketches.base import Sketch, merge_blob_runs
from .sketches.hll import blob_prefix, bucket_rho


# Partial-sketch rows: partition id, raw rows, the partition's sketch
PARTIAL_SCHEMA = "pid long, rows long, sketch binary"


def _norm_key(key) -> tuple:
    """Normalize a group key to a stable tuple: NaN/NaT/None all become
    ``None``.  Raw NaN keys are unusable as dict keys across Arrow batches
    (``nan != nan`` defeats the hash lookup unless pandas happens to hand
    back the same singleton) and unsortable against strings.

    CONTRACT (round-3 ADVICE): for float/double group columns this
    FOLDS real NaN keys into the NULL group, where native Spark groupBy
    keeps NaN as its own non-null group.  The conflation is partly
    forced upstream — the Arrow->pandas crossing already maps SQL NULL
    to NaN, so the two are indistinguishable by the time a pandas-side
    build sees them; :func:`fold_sketch_runs` keeps the same contract.
    Callers that need NaN as a distinct group must pre-normalize
    JVM-side (e.g. ``nanvl(col, lit(sentinel))`` or a ``isnan`` filter)
    before the build."""
    kt = key if isinstance(key, tuple) else (key,)
    return tuple(None if v is None or v != v else v for v in kt)


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
    # prepare_keyed_exprs() emits (KLL/TDigest read only the value column;
    # the h1 the base class emits for them is pure Arrow-crossing waste —
    # the JVM row->Arrow serializer is the build's dominant per-value cost, see
    # xp_serializer_cpu in BENCH.md "Retired diagnostic scripts").  None =
    # all emitted columns are used.
    USED_BATCH_COLS: ClassVar[tuple[str, ...] | None] = None

    # How this sketch's update commutes with a JVM-side pre-aggregation of
    # its key columns (_grouped_partials(prereduce=True)):
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
    individual columns: the builder's structural dedup then
    projects each source column's hash ONCE, and the composite never
    crosses the Arrow boundary at all — the JVM row->Arrow serializer is
    the build's dominant per-value cost (xp_arrow_identity in BENCH.md
    "Retired diagnostic scripts"), so
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
# Global (ungrouped) aggregation: the one builder's partials with no group
# columns + tree merge.  The single-sketch calls are the multi-sketch ones
# with the one name ``sketch``.
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
    pass over the data: :func:`_grouped_partials` with no group columns.
    Output: one row per input partition, empty ones included,
    ``pid long, rows long, <name> binary ..., wall_sec double`` (one binary
    column per spec; ``wall_sec`` is the partition's build time, recorded
    by checkpoint manifests).  With ``prereduce=True`` the partial count
    follows the shuffle partitioning, so pass the session's shuffle
    partition count as ``est_parts`` to the merge."""
    return _grouped_partials(df, [], specs, prereduce).select(
        F.col("_pid").alias("pid"), "rows",
        *[F.col(f"`{n}`") for n in specs], "wall_sec")


def tree_aggregate_multi(partials: DataFrame, names: Sequence[str],
                         collect_max: int = 1024,
                         fanout: int = 64,
                         blob_bytes: int | None = None,
                         est_parts: int | None = None) -> dict[str, bytes | None]:
    """Merge a multi-sketch partials frame to one blob per sketch name.

    Up to ``collect_max`` partials are pulled straight to the driver by
    ``toArrow()`` and folded there in pid order (sub-second even for
    hundreds of MB-scale blobs).  Beyond that — true cluster scale —
    parallel tree rounds fold ``fanout`` rows into one executor-side
    first, so the driver only ever sees ``collect_max`` rows.  A round is
    :func:`regroup_sketch_rows` keyed on ``pid // fanout``: one shuffle of
    the sketch rows, then a ``mapInArrow`` of :func:`fold_sketch_runs` over
    every sketch column.  Folds happen in sorted-pid order at every level
    (canonical).  ``blob_bytes`` = per-ROW total size hint (sum of the
    specs' est_bytes()) capping the collect by bytes.
    ``est_parts`` (when the caller knows the partial count, e.g. it chose
    the input partitioning) skips the ``.rdd`` partition probe — that
    conversion runs full plan analysis on the driver, a flat cost worth
    avoiding in latency-measured paths."""
    collect_max = _budgeted_collect_max(collect_max, blob_bytes)
    if est_parts is None:
        est_parts = partials.rdd.getNumPartitions()
    while est_parts > collect_max:
        partials = regroup_sketch_rows(
            partials.withColumn("_g", F.floor(F.col("pid") / fanout)),
            ["_g"], order_cols=["pid"], sketches=names,
        ).select(F.col("_g").alias("pid"), "rows",
                 *[F.col(f"`{n}`") for n in names])
        est_parts = int(np.ceil(est_parts / fanout))
    # collect ``partials`` itself, not a projection of it: the partition
    # probe above runs an adaptive plan's shuffle stages, and only the same
    # DataFrame reuses them
    t = partials.toArrow()
    order = np.argsort(np.asarray(t.column("pid")), kind="stable")
    out = {}
    for n in names:
        blobs = t.column(n).to_pylist()
        out[n] = merge_blob_list(blobs[i] for i in order)
    return out


def sketch_dataframe_multi(
        df: DataFrame,
        specs: dict[str, tuple[SketchSpec, Sequence[str | Column]]],
        prereduce: bool = False,
) -> dict[str, Sketch]:
    """One-pass build+merge of several sketches; returns deserialized finals.

    ``prereduce=True`` routes every spec whose REDUCE contract allows it
    through the pre-reduced crossing (JVM hash-agg before the Arrow
    boundary — byte-identical output, see _grouped_partials) and
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
# The one stage-1 builder: per-(partition, group) partials in mapInPandas,
# merged by the one sketch-row fold
# --------------------------------------------------------------------------

def _batch_group_codes(pdf: pd.DataFrame,
                       group_cols: list[str]) -> tuple[np.ndarray, list]:
    """Per-row group code of one batch, and each code's key normalized
    as :func:`_norm_key` does (NULL and NaN both become ``None``, and
    share one code)."""
    codes = np.zeros(len(pdf), dtype=np.int64)
    if not group_cols:
        return codes, [()]
    for c in group_cols:
        cc, uniq = pd.factorize(pdf[c], use_na_sentinel=False)
        _, first, codes = np.unique(codes * len(uniq) + cc,
                                    return_index=True, return_inverse=True)
    cols = [pdf[c].take(first).tolist() for c in group_cols]
    return codes.reshape(-1), [_norm_key(k) for k in zip(*cols)]


def _batch_groups(pdf: pd.DataFrame, codes: np.ndarray,
                  n: int) -> Iterator[tuple[int, pd.DataFrame]]:
    """Each of the ``n`` codes' rows of one batch as ``(code, rows)``,
    the rows in their batch order; a batch of one code is itself."""
    if n == 1:
        yield 0, pdf
        return
    order = np.argsort(codes, kind="stable")
    starts = np.flatnonzero(np.diff(codes[order], prepend=-1))
    for s, e in zip(starts, np.append(starts[1:], len(order))):
        yield codes[order[s]], pdf.take(order[s:e])


def _grouped_partials(
        df: DataFrame, group_cols: Sequence[str],
        specs: dict[str, tuple[SketchSpec, Sequence[str | Column]]],
        prereduce: bool = False, write_dir: str | None = None,
        write_pids: Collection[int] | None = None) -> DataFrame:
    """The one stage-1 builder: each input partition builds one partial
    row per group it contains, ``[*group_cols, <name> binary ..., rows,
    _pid, wall_sec]``, in ONE ``mapInPandas`` pass over ONE projection —
    raw rows never shuffle, and N sketches cost one scan.

    - Specs that prepare IDENTICAL expressions (e.g. an HLL and a Bloom
      both keyed on ``xxhash64(conv_id)``) share ONE projected column: the
      keys come from ``prepare_keyed_exprs``, compared structurally, and a
      column the spec's ``USED_BATCH_COLS`` leaves out never crosses.  The
      JVM row->Arrow serializer is the build's dominant per-value cost
      (xp_serializer_cpu in BENCH.md "Retired diagnostic scripts").
    - Every HLL spec keeps its groups' registers as the rows of one
      ``[groups x 2^p]`` block, updated by a single max-scatter per Arrow
      batch (max is order-free: the bytes equal ``add_hashes``); the other
      kinds ``update`` once per (batch, group), rows in batch order.
    - ``prereduce=True`` groups the projection in the JVM on
      ``(*group_cols, *hashes)`` before the crossing (Tungsten hash-agg
      with map-side combine), so one row per DISTINCT key tuple crosses,
      carrying its raw multiplicity in ``__cnt``, and ``rows`` is the sum
      of ``__cnt``.  Sound for specs whose REDUCE is "distinct" or
      "weighted" (byte-identical sketches); raises for the others.
    - With no group columns, a partition with no rows still emits one row
      of empty sketches with ``rows = 0``: a checkpoint records its pid
      as complete.
    - With ``write_dir``, the task writes its rows as one parquet file in
      that directory (:func:`~sparksketch.io.write_part`, bucket = its
      partition id) and emits one ``file string, rows long, pid long,
      wall_sec double`` row naming it instead; ``rows`` is the input row
      count.  A partition outside ``write_pids`` (when given) writes and
      emits nothing.  This is the checkpoint's write path: the caller
      commits the files it collects — no Spark write job runs.

    ``wall_sec`` is the partition's build time, on each of its rows."""
    group_cols, names = list(group_cols), list(specs)
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
            if expr_key not in seen:
                seen[expr_key] = f"{name}__{batch_col}"
                exprs.append(c)
            canon[name][batch_col] = seen[expr_key]
    prepared = df.select(*[F.col(c) for c in group_cols], *exprs)
    if prereduce:
        prepared = (prepared.groupBy(*group_cols, *seen.values())
                    .agg(F.count(F.lit(1)).alias("__cnt")))
        for n in names:
            canon[n]["_cnt"] = "__cnt"
    gtypes = dict(df.dtypes) if group_cols else {}
    out_schema = ", ".join([f"`{c}` {gtypes[c]}" for c in group_cols]
                           + [f"`{n}` binary" for n in names]
                           + ["rows long", "_pid long", "wall_sec double"])
    target = None
    if write_dir is not None:
        out_schema = "file string, rows long, pid long, wall_sec double"
        target = fs_path(write_dir)
    hll = {n: (s.p, canon[n]["h1"])
           for n, (s, _) in specs.items() if isinstance(s, HLLSpec)}
    others = [n for n in names if n not in hll]

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext
        t0 = time.monotonic()
        index: dict[tuple, int] = {} if group_cols else {(): 0}
        rows = np.zeros(len(index), dtype=np.int64)
        blocks = {n: np.zeros((len(index), 1 << p), dtype=np.uint8)
                  for n, (p, _) in hll.items()}
        sks = {n: [specs[n][0].empty() for _ in index] for n in others}
        for pdf in batches:
            if not len(pdf):
                continue
            codes, keys = _batch_group_codes(pdf, group_cols)
            gids = np.array([index.setdefault(k, len(index)) for k in keys],
                            dtype=np.int64)
            gid = gids[codes]
            if len(index) > len(rows):
                cap = max(len(index), 2 * len(rows))
                rows = np.concatenate(
                    [rows, np.zeros(cap - len(rows), dtype=np.int64)])
                for n, b in blocks.items():
                    blocks[n] = np.concatenate(
                        [b, np.zeros((cap - len(b), b.shape[1]), np.uint8)])
            rows += np.bincount(
                gid, pdf["__cnt"].to_numpy() if prereduce else None,
                len(rows)).astype(np.int64)
            for n, (p, src) in hll.items():
                bucket, rho = bucket_rho(pdf[src].to_numpy(), p)
                np.maximum.at(blocks[n].reshape(-1), (gid << p) + bucket, rho)
            for n in others:
                spec, sk = specs[n][0], sks[n]
                sk.extend(spec.empty() for _ in range(len(index) - len(sk)))
                update = spec.update_reduced if prereduce else spec.update
                named = pdf.rename(columns={
                    src: bc for bc, src in canon[n].items()})
                for code, sub in _batch_groups(named, codes, len(keys)):
                    update(sk[gids[code]], sub)
        if not index:
            return
        keys = list(index)  # in gid order
        data = {c: [k[i] for k in keys] for i, c in enumerate(group_cols)}
        for n in names:
            if n in hll:
                prefix = blob_prefix(hll[n][0])
                data[n] = [prefix + r.tobytes() for r in blocks[n][:len(keys)]]
            else:
                data[n] = [sk.to_bytes() for sk in sks[n]]
        pid = TaskContext.get().partitionId()
        data["rows"] = rows[:len(keys)]
        data["_pid"] = pid
        data["wall_sec"] = wall = time.monotonic() - t0
        if target is None:
            yield pd.DataFrame(data)
        elif write_pids is None or pid in write_pids:
            f = write_part(pa.Table.from_pandas(pd.DataFrame(data),
                                                preserve_index=False),
                           target, pid)
            yield pd.DataFrame({"file": f.column("file").to_pylist(),
                                "rows": [int(data["rows"].sum())],
                                "pid": [pid], "wall_sec": [wall]})

    return prepared.mapInPandas(build, out_schema)


def grouped_sketch(df: DataFrame, group_cols: Sequence[str],
                   spec: SketchSpec,
                   cols: Sequence[str | Column]) -> DataFrame:
    """``groupBy(group_cols).agg(sketch)`` -> DataFrame[*group_cols, sketch,
    rows], with the map-side combine that grouped pandas UDFs lack:

    - **stage 1** (``mapInPandas``, NO shuffle): each input partition
      builds one partial sketch per group it contains, segmented inside the
      Arrow batches — raw rows never leave their partition.  HLL groups
      share one ``[groups x 2^p]`` register block, updated by a single
      max-scatter per batch; other kinds update per (batch, group);
    - **stage 2** (:func:`regroup_sketch_rows`): only the KB-scale
      partial-sketch rows shuffle, merged per group — valid because every
      mergeable kind here is associative+commutative.

    Skew needs no extra phase: a hot group adds at most one partial row
    per input partition, so stage 2 folds at most partitions x groups
    rows whatever the key distribution.  Executor memory holds
    O(groups-in-partition x sketch bytes) during stage 1: pick compact
    specs for ultra-high cardinality (bottom-k with small k, HLL p<=12).

    Partials merge in sorted stage-1-partition order (``_pid``) per group,
    so KLL and t-digest results are deterministic for a fixed input
    partitioning; every other kind is byte-identical for any partitioning.
    Group keys follow :func:`_norm_key`: NaN keys in a floating group
    column join the NULL group.
    """
    group_cols = list(group_cols)
    return regroup_sketch_rows(
        _grouped_partials(df, group_cols, {"sketch": (spec, cols)}),
        group_cols, order_cols=["_pid"])


def _sketch_row_schema(schema: StructType, group_cols: Sequence[str],
                       estimate_col: str | None = None,
                       sketches: Sequence[str] = ("sketch",)) -> StructType:
    """Merged sketch rows keyed by ``group_cols``, typed as in ``schema``:
    ``[*group_cols, *sketches binary, rows bigint]``, or with
    ``estimate_col`` ``[*group_cols, rows bigint, <estimate_col> double]``."""
    tail = ([("rows", LongType()), (estimate_col, DoubleType())]
            if estimate_col else
            [(s, BinaryType()) for s in sketches] + [("rows", LongType())])
    return StructType([StructField(c, schema[c].dataType)
                       for c in group_cols] + [StructField(*f) for f in tail])


def fold_sketch_runs(t: pa.Table, keys: Sequence[str],
                     sketches: Sequence[str] = ("sketch",)) -> pa.Table:
    """Fold sketch rows ``[*keys, *sketches, rows, ...]``, in which each
    group of ``keys`` is one run of consecutive rows, to ``[*keys,
    *sketches, rows]``: one row per run, in run order.  Each sketch
    column's runs merge in row order in one
    :func:`~sparksketch.sketches.base.merge_blob_runs` call (a stacked
    NumPy max/OR for HLL and dense Bloom, no sketch objects) and ``rows``
    sums by ``np.add.reduceat``.  Keys compare with NULL equal to NULL and
    a float key's NaN read as NULL, and the emitted key is the normalized
    one: the :func:`_norm_key` contract."""
    cols = []
    for k in keys:
        c = t.column(k).combine_chunks()
        if pa.types.is_floating(c.type):
            c = pc.if_else(pc.is_nan(c), pa.scalar(None, c.type), c)
        cols.append(c)
    new = np.zeros(t.num_rows, dtype=bool)
    new[:1] = True
    for c in cols:  # a run starts where any key differs
        prev, cur = c[:-1], c[1:]
        same = pc.if_else(pc.is_null(prev), pc.is_null(cur),
                          pc.fill_null(pc.equal(prev, cur), False))
        new[1:] |= ~np.asarray(same)
    starts = np.flatnonzero(new)
    blobs = [t.column(s) for s in sketches]
    return pa.Table.from_arrays(
        [*(c.take(starts) for c in cols),
         *(pa.array(merge_blob_runs(b.to_pylist(), starts), b.type)
           for b in blobs),
         pa.array(np.add.reduceat(np.asarray(t.column("rows")), starts))],
        names=[*keys, *sketches, "rows"])


def _group_keys(df: DataFrame, group_cols: list[str]) -> list[Column]:
    """``group_cols`` of ``df`` as partition and sort keys, a float
    column's NaN read as NULL: a group's NaN and NULL rows meet in one
    task and sort into one run of :func:`fold_sketch_runs`."""
    types = dict(df.dtypes)
    return [F.nanvl(F.col(c), F.lit(None).cast(types[c]))
            if types[c] in ("float", "double") else F.col(c)
            for c in group_cols]


def _estimated(t: pa.Table, estimate_col: str) -> pa.Table:
    """Folded rows ``[*keys, sketch, rows]`` as ``[*keys, rows,
    <estimate_col>]``: each blob replaced by its :func:`_estimate`."""
    est = [_estimate(x) for x in t.column("sketch").to_pylist()]
    return pa.Table.from_arrays(
        [*t.columns[:-2], t.column("rows"), pa.array(est, pa.float64())],
        names=[*t.column_names[:-2], "rows", estimate_col])


def _fold_sorted(src: DataFrame, group_cols: list[str],
                 estimate_col: str | None = None,
                 write_dir: str | None = None,
                 sketches: Sequence[str] = ("sketch",)) -> DataFrame:
    """Fold ``src``'s ``[*group_cols, *sketches, rows, ...]`` rows, each
    group one run of one partition, with a ``mapInArrow`` of
    :func:`fold_sketch_runs` per Arrow batch.  A batch's last merged row
    is carried to the front of the next: a group straddling batches
    merges as ``[carried, *run]``, the decode order of one list, so KLL
    and t-digest bytes do not depend on where batches split.  See
    :func:`regroup_sketch_rows` for ``estimate_col``, ``write_dir`` and
    ``sketches``."""
    cols = [*group_cols, *sketches, "rows"]
    out_schema = _sketch_row_schema(src.schema, group_cols, estimate_col,
                                    sketches)
    target = None
    if write_dir is not None:
        out_schema, target = WRITTEN_SCHEMA, fs_path(write_dir)

    def folded(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.Table]:
        carry = None
        for b in batches:
            if b.num_rows:
                t = pa.Table.from_arrays([b.column(c) for c in cols],
                                         names=cols)
                if carry is not None:
                    t = pa.concat_tables([carry, t])
                t = fold_sketch_runs(t, group_cols, sketches)
                carry = t.slice(t.num_rows - 1)  # may go on in the next
                yield t.slice(0, t.num_rows - 1)
        if carry is not None:
            yield carry

    def fold(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        if target is not None:
            from pyspark import TaskContext
            parts = list(folded(batches))
            if parts:  # the task's partition id is its bucket
                yield write_part(pa.concat_tables(parts), target,
                                 TaskContext.get().partitionId())
            return
        for t in folded(batches):
            yield from (_estimated(t, estimate_col) if estimate_col
                        else t).to_batches()

    return src.mapInArrow(fold, out_schema)


def regroup_sketch_rows(grouped: DataFrame, group_cols: Sequence[str],
                        order_cols: Sequence[str] = (),
                        estimate_col: str | None = None,
                        write_dir: str | None = None,
                        buckets: int = 1,
                        sketches: Sequence[str] = ("sketch",)) -> DataFrame:
    """Merge an existing ``[*keys, sketch, rows]`` frame down to a COARSER
    key set — because every sketch kind here is mergeable, rollups /
    grouping-set views are an algebra over KB-scale sketch rows, never a
    rescan of the data.  ``order_cols`` (e.g. the dropped dims) fixes the
    per-group merge order for determinism.

    The rows are repartitioned by ``group_cols`` and sorted by them (then
    ``order_cols``), so a group is one run of consecutive rows, and
    :func:`_fold_sorted` folds them.  With ``estimate_col``, the fold also
    estimates each merged sketch and emits ``[*group_cols, rows,
    <estimate_col> double]`` instead of the blob, in the same operator.

    With ``write_dir``, the rows are laid out in ``buckets`` buckets by
    ``pmod(xxhash64(*group_cols), buckets)``, computed in the JVM (bucket
    0 without group columns), and ``repartitionById`` sends bucket ``b``
    to task ``b``.  A task writes its merged ``[*group_cols, sketch,
    rows]`` rows as one parquet file in that directory
    (:func:`~sparksketch.io.write_part`) and emits one ``(file, rows,
    bucket)`` row naming it; a task with no groups writes nothing.  The
    caller commits the files it collects — no Spark write job runs.

    ``sketches`` names the blob columns to fold, each over the same runs
    (the global merge's tree rounds fold one column per spec)."""
    group_cols = list(group_cols)
    keys = _group_keys(grouped, group_cols)
    sort_cols = [k.asc_nulls_last() for k in keys] + [
        c for c in order_cols if c in grouped.columns and c not in group_cols]
    if write_dir is not None:
        bucket = (F.pmod(F.xxhash64(*keys), F.lit(buckets))
                  if group_cols else F.lit(0))
        grouped = (grouped.repartitionById(buckets, bucket.cast("int"))
                   .sortWithinPartitions(*sort_cols))
    elif group_cols:
        grouped = grouped.repartition(*keys).sortWithinPartitions(*sort_cols)
    else:
        grouped = grouped.coalesce(1)
        if sort_cols:
            grouped = grouped.sortWithinPartitions(*sort_cols)
    return _fold_sorted(grouped, group_cols, estimate_col, write_dir,
                        sketches)


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
    finest = track_cache(grouped_sketch(df, dims, spec, cols)
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


def _estimate(blob) -> float:
    """A sketch blob's headline number: the distinct count for bottom-k/
    HLL/bloom kinds, ``n`` for KLL/t-digest."""
    sk = sketch_from_bytes(bytes(blob))
    for name in ("distinct_estimate", "estimate", "estimate_n"):
        fn = getattr(sk, name, None)
        if fn is not None:
            return float(fn())
    return float(getattr(sk, "n", float("nan")))


def with_sketch_estimate(df: DataFrame, out_col: str = "estimate",
                         sketch_col: str = "sketch") -> DataFrame:
    """Adds each row's sketch estimate (distinct count for bottom-k/HLL/
    bloom, n for KLL/t-digest) as a double — evaluated on the EXECUTORS, so
    high-cardinality grouped results never ship sketch blobs to the driver
    just to read one number out of each."""

    @F.pandas_udf("double")
    def est(blobs: pd.Series) -> pd.Series:
        return pd.Series([_estimate(b) for b in blobs], dtype="float64")

    return df.withColumn(out_col, est(F.col(sketch_col)))


# --------------------------------------------------------------------------
# Scalar sketch functions over DataFrames
# --------------------------------------------------------------------------

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
        sk = _probe_sketch(token, bc, inline)
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
        sk = _probe_sketch(token, bc, inline, decode_acc)
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

    Builds a Bloom filter over the (small) build side (partials merged by
    :func:`tree_aggregate`, an Arrow collect folded on the driver) and
    ships the KB-scale blob inside the UDF closure — no shuffle of the
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
        sk = _probe_sketch(token, bc, inline)
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
            codes, vals = _batch_group_codes(pdf, ["_stream"])
            for code, sub in _batch_groups(pdf, codes, len(vals)):
                (val,) = vals[code]
                sk = sks.get(val)
                if sk is None:
                    sk = sks[val] = FillLayeredBloomFilter(
                        shape, target_n, max_layers=max_layers)
                    rows[val] = 0
                sk.insert_hashes(sub["h1"].to_numpy())
                rows[val] += len(sub)
        if sks:
            keys = list(sks)
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
