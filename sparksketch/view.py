"""Materialized sketch views: log-structured, incrementally maintained
sketch rollups — the hypertable-rollup pattern a 100 TB transcript
pipeline needs.  A scheduled job appends one SEGMENT of per-``dims``
sketch rows per batch of new data (the ONLY fact-table scan, built by
:func:`~sparksketch.agg.grouped_sketch`'s two stages, which never shuffle
raw rows); interactive queries read KB-scale sketch rows, merge them with
the sketch algebra and answer at any grouping set coarser than ``dims``
— never rescanning the facts.  Compaction folds the segment log back to
one segment.  Every one of these folds — append, query, compaction and
the sketchview reader — is :func:`~sparksketch.agg.fold_sketch_runs` over
Arrow rows sorted by group.

Storage layout:

    <path>/segments/seg=<id>/part-<bucket>-<uuid>.parquet  [*dims, sketch, rows]
    <path>/manifest/manifest.parquet
        (seg, spec, dims, active, note, files, buckets, schema, nbuckets)

Segments are bucketed: a group's rows live in bucket
``pmod(xxhash64(*dims), B)`` of every segment.  B is about one bucket
per ``_GROUPS_PER_BUCKET`` groups of segment 0, a divisor of the
session's default parallelism P when the view is materialized (so one
wave of tasks covers every bucket); a small view is one bucket.  The
materialize/append fold computes the bucket in the JVM and sends bucket
``b`` to fold task ``b`` (``regroup_sketch_rows(write_dir=...,
buckets=...)``, a ``repartitionById``), which writes the bucket's file
with pyarrow; no Spark write job runs.  Materialize folds in P buckets,
since the group count is known only after the fold, and records each
file under bucket ``b % B`` (``pmod(h, P) % B == pmod(h, B)`` when B
divides P), so segment 0 may hold several files per bucket; every later
segment holds at most one.

Every read is one job of B tasks, ``spark.range(B).mapInArrow``
(:func:`_map_buckets`), with no file scan: task ``b`` reads bucket
``b``'s listed files with pyarrow, tagged with their segment id ``seg``
and sorted into each group's merge order (:func:`_read_bucket`).  A
compaction, a sketchview read and a query of one bucket or at the
view's dims fold (and estimate) in that task: one stage, no shuffle.  A
``where`` is a JVM filter between the read and the fold; a coarser
query of several buckets merges across buckets with one Exchange.

The manifest is one KB-scale parquet file the DRIVER reads and writes
with pyarrow: per segment, its files (relative to ``<path>/segments``),
their buckets, B and the rows' Spark schema as JSON, which parses without
a JVM (the sketchview reader plans in a Python worker).  Every mutation
writes the whole new manifest to ``manifest/_tmp-<uuid>.parquet`` and
renames it over ``manifest.parquet``, so a reader sees the old manifest
or the new one, never a missing or partial file.  The rename is the only
commit: every reader opens exactly the listed files, so a file no
manifest lists (a failed write's segment, a failed or speculative task
attempt's output) is never read, and a stray ``_tmp-*`` file is hidden
by its ``_`` prefix.  Nothing removes such files either: they stay on
disk until the view's directory is deleted.  Checkpoint directories
(checkpoint.py) commit the same way and keep the same leftovers.  The rename is atomic on POSIX local paths (and
HDFS); object stores have no atomic rename.  Only local paths are
verified here.

The manifest records repr(spec), so an append with a mismatched
sketch spec or dim types fails loudly instead of silently merging
incompatible blobs (the wire-format VERSION's contract at the byte
level).  A manifest without bucketed file lists (an earlier layout) is
rejected.

Concurrency note: segment files are immutable once written and each
manifest commit is one atomic rename, so readers never block or see a
torn state.  Concurrent WRITERS are not serialized: two appends racing
on the same view both read manifest version n and the later rename wins,
dropping the other's segment.  Deployments with concurrent writers swap
the io seam to Iceberg/Delta (io.py) and inherit their atomic commit.
"""

from __future__ import annotations

import json
import uuid
from dataclasses import dataclass
from typing import NamedTuple, Sequence

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyarrow import fs as pafs
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql.types import IntegerType, StructField, StructType

from .agg import (SketchSpec, _estimated, _fold_sorted, _grouped_partials,
                  _sketch_row_schema, fold_sketch_runs, regroup_sketch_rows)
from .io import WRITTEN_SCHEMA, fs_path, write_part

_MANIFEST_FILE = "manifest.parquet"
_MANIFEST_SCHEMA = pa.schema([("seg", pa.int32()), ("spec", pa.string()),
                              ("dims", pa.string()), ("active", pa.bool_()),
                              ("note", pa.string()),
                              ("files", pa.list_(pa.string())),
                              ("buckets", pa.list_(pa.int32())),
                              ("schema", pa.string()),
                              ("nbuckets", pa.int32())])
# A bucket task folds and estimates about 40 us per group in Python (HLL
# p=10, 4-vCPU host), so 8192 groups are about 0.3 s of work.  Each
# bucket costs one more file per append, which every read opens; below
# a few thousand groups per bucket that costs more than the read
# parallelism saves (views_rw's 2,048-group view ran faster as one
# bucket than as four).
_GROUPS_PER_BUCKET = 8192


class _Segment(NamedTuple):
    """One manifest row: a segment, its files and the rows' schema."""
    seg: int
    spec: str
    dims: str
    active: bool
    note: str
    files: list[str]    # relative to <path>/segments
    buckets: list[int]  # the bucket of each file
    schema: str         # Spark StructType JSON of [*dims, sketch, rows]
    nbuckets: int       # B, the view's bucket count


def _segments_path(path: str) -> str:
    return path.rstrip("/") + "/segments"


@dataclass(frozen=True)
class _Manifest:
    """A view's manifest: one :class:`_Segment` per segment, sorted by
    segment id."""
    rows: list[_Segment]

    @property
    def dims(self) -> list[str]:
        return self.rows[0].dims.split(",") if self.rows[0].dims else []

    @property
    def spec(self) -> str:
        return self.rows[0].spec

    @property
    def schema(self) -> StructType:
        """The Spark schema of the segment rows, ``[*dims, sketch, rows]``."""
        return StructType.fromJson(json.loads(self.rows[0].schema))

    @property
    def nbuckets(self) -> int:
        return self.rows[0].nbuckets

    @property
    def active(self) -> list[int]:
        return [r.seg for r in self.rows if r.active]

    @property
    def max_seg(self) -> int:
        return self.rows[-1].seg

    def segments(self, requested: Sequence[int] | None = None) -> list[int]:
        """The segment ids a read covers: the active set by default, else
        ``requested`` once validated.  Unknown ids raise, and so does
        mixing compacted-away segments with active ones — the active
        compaction already holds their rows, so the merge would count
        them twice."""
        if requested is None:
            return self.active
        segs = sorted({int(s) for s in requested})
        known = {r.seg: r.active for r in self.rows}
        unknown = [s for s in segs if s not in known]
        if unknown:
            raise ValueError(f"unknown segment ids {unknown}; the view has "
                             f"segments {sorted(known)}")
        inactive = [s for s in segs if not known[s]]
        if inactive and len(inactive) < len(segs):
            raise ValueError(
                f"segments {inactive} were compacted away; reading them "
                f"with active segments {sorted(set(segs) - set(inactive))} "
                "would count their rows twice")
        return segs

    def bucket_files(self, path: str,
                     requested: Sequence[int] | None = None
                     ) -> tuple[pafs.FileSystem, list[list[str]]]:
        """The filesystem of the view at ``path`` and, per bucket, the
        files of the segments a read covers (see :meth:`segments`) in
        segment order: what :func:`_read_bucket` reads."""
        fs, root = fs_path(_segments_path(path))
        segs = set(self.segments(requested))
        out: list[list[str]] = [[] for _ in range(self.nbuckets)]
        for r in self.rows:
            if r.seg in segs:
                for f, b in zip(r.files, r.buckets):
                    out[b].append(f"{root}/{f}")
        return fs, out


def _read_manifest(path: str) -> _Manifest:
    """The view's current manifest; raises ``FileNotFoundError`` when the
    view has none yet and ``ValueError`` for a manifest of an earlier
    layout, whose segments were listed directories or unbucketed files."""
    fs, d = fs_path(path.rstrip("/") + "/manifest")
    t = pq.read_table(f"{d}/{_MANIFEST_FILE}", filesystem=fs)
    if t.schema.names != _MANIFEST_SCHEMA.names:
        raise ValueError(
            f"the view at {path} has a manifest of an old layout, without "
            "bucketed segment file lists (columns "
            f"{t.schema.names}); rebuild it with view_materialize")
    return _Manifest(sorted(_Segment(*r.values()) for r in t.to_pylist()))


def _write_manifest(path: str, rows: list[_Segment]) -> None:
    """Commit ``rows`` as the view's manifest: write a hidden temp file,
    then rename it over the current one."""
    fs, d = fs_path(path.rstrip("/") + "/manifest")
    fs.create_dir(d, recursive=True)
    tmp = f"{d}/_tmp-{uuid.uuid4().hex}.parquet"
    pq.write_table(pa.Table.from_pylist(
        [r._asdict() for r in rows], schema=_MANIFEST_SCHEMA), tmp,
        filesystem=fs)
    fs.move(tmp, f"{d}/{_MANIFEST_FILE}")


def _new_segment(seg: int, spec: str, dims: list[str], note: str,
                 written: list, schema: StructType,
                 nbuckets: int) -> _Segment:
    """The manifest row, not yet committed, of segment ``seg`` whose fold
    tasks ``written`` its files as ``(file, rows, bucket)`` rows, each
    file under bucket ``bucket % nbuckets``."""
    written = sorted(written, key=lambda r: r.bucket % nbuckets)
    return _Segment(seg, spec, ",".join(dims), True, note,
                    [f"seg={seg}/{r.file}" for r in written],
                    [r.bucket % nbuckets for r in written], schema.json(),
                    nbuckets)


def _write_segment(parts: DataFrame, dims: list[str], path: str, seg: int,
                   nbuckets: int) -> list:
    """Fold the partial rows ``parts`` to one row per ``dims`` group, laid
    out in ``nbuckets`` buckets, one file of segment ``seg`` per bucket;
    the ``(file, rows, bucket)`` rows of the files written."""
    return regroup_sketch_rows(
        parts, dims, order_cols=["_pid"],
        write_dir=f"{_segments_path(path)}/seg={seg}",
        buckets=nbuckets).collect()


def _bucket_count(groups: int, parallelism: int) -> int:
    """B for a view whose segment 0 has ``groups`` groups: the largest
    divisor of ``parallelism`` that is at most one bucket per
    ``_GROUPS_PER_BUCKET`` groups (rounded up), and at least 1."""
    want = max(1, -(-groups // _GROUPS_PER_BUCKET))
    return max(d for d in range(1, parallelism + 1)
               if parallelism % d == 0 and d <= want)


def view_materialize(df: DataFrame, dims: Sequence[str], spec: SketchSpec,
                     cols: Sequence[str | Column], path: str,
                     note: str = "initial") -> None:
    """Create the view: build per-``dims`` sketch rows from ``df`` (one
    fact scan, raw rows never shuffle) and write them as segment 0, in
    as many buckets as its size calls for (see the module docstring)."""
    dims = list(dims)
    parts = _grouped_partials(df, dims, {"sketch": (spec, cols)})
    p = df.sparkSession.sparkContext.defaultParallelism
    written = _write_segment(parts, dims, path, 0, p)
    _write_manifest(path, [_new_segment(
        0, repr(spec), dims, note, written,
        _sketch_row_schema(parts.schema, dims),
        _bucket_count(sum(r.rows for r in written), p))])


def view_append(df: DataFrame, spec: SketchSpec,
                cols: Sequence[str | Column], path: str,
                note: str = "append") -> int:
    """Append one segment built from new facts (e.g. today's partition).
    The spec and the dims' types must match the view's exactly —
    mergeable blobs of different shapes, or keys that hash to other
    buckets, fail loudly here, not silently at query time.  Returns the
    new segment id."""
    m = _read_manifest(path)
    if repr(spec) != m.spec:
        raise ValueError(
            f"sketch spec mismatch: view built with {m.spec}, "
            f"append called with {repr(spec)}")
    parts = _grouped_partials(df, m.dims, {"sketch": (spec, cols)})
    schema = _sketch_row_schema(parts.schema, m.dims)
    if schema != m.schema:
        raise ValueError(
            f"dim types mismatch: view built with {m.schema.simpleString()}"
            f", append gives {schema.simpleString()}")
    seg = m.max_seg + 1
    written = _write_segment(parts, m.dims, path, seg, m.nbuckets)
    _write_manifest(path, m.rows + [_new_segment(
        seg, m.spec, m.dims, note, written, schema, m.nbuckets)])
    return seg


def _view_rows(spark: SparkSession, path: str,
               group_cols: Sequence[str] | None, where: Column | None,
               segments: Sequence[int] | None,
               estimate_col: str | None = None) -> DataFrame:
    """``view_rows``, or ``view_query`` with ``estimate_col``."""
    m = _read_manifest(path)
    dims = m.dims
    gcols = dims if group_cols is None else list(group_cols)
    unknown = [c for c in gcols if c not in dims]
    if unknown:
        raise ValueError(f"group cols {unknown} not in view dims {dims}")
    fs, buckets = m.bucket_files(path, segments)
    # one bucket holds every row of a group of gcols
    local = m.nbuckets == 1 or set(gcols) == set(dims)
    if local and where is None:
        return _map_buckets(
            spark, buckets,
            lambda b, files: _fold_bucket(fs, files, dims, gcols,
                                          estimate_col).to_batches(),
            _sketch_row_schema(m.schema, gcols, estimate_col))
    src = _map_buckets(
        spark, buckets,
        lambda b, files: _read_bucket(fs, files, dims, gcols).to_batches(),
        StructType(m.schema.fields + [StructField("seg", IntegerType())]))
    if where is not None:
        src = src.filter(where)
    if local:
        return _fold_sorted(src, gcols, estimate_col)
    # deterministic merge order: remaining dims, then segment id
    return regroup_sketch_rows(src, gcols, order_cols=[*dims, "seg"],
                               estimate_col=estimate_col)


def view_rows(spark: SparkSession, path: str,
              group_cols: Sequence[str] | None = None,
              where: Column | None = None,
              segments: Sequence[int] | None = None) -> DataFrame:
    """Merged sketch rows at the requested grouping set.

    ``group_cols`` defaults to the view's dims; any subset (down to
    ``[]`` = the global sketch) is valid because every kind is
    mergeable.  ``where`` filters on the dims and ``seg`` (the segment
    id) BEFORE the merge, in the JVM between the bucket read and the
    fold; ``segments`` restricts the read to those segments' files
    (default: the active set; unknown ids, or compacted-away ids mixed
    with active ones, raise ``ValueError``)."""
    return _view_rows(spark, path, group_cols, where, segments)


def view_query(spark: SparkSession, path: str,
               group_cols: Sequence[str] | None = None,
               where: Column | None = None,
               segments: Sequence[int] | None = None,
               estimate_col: str = "estimate") -> DataFrame:
    """``view_rows`` + executor-side estimates: the driver only ever sees
    (group, rows, estimate) — sketch blobs stay on the executors, and the
    estimate is taken inside the fold's own task."""
    return _view_rows(spark, path, group_cols, where, segments,
                      estimate_col)


def view_stream_writer(dims: Sequence[str], spec: SketchSpec,
                       cols: Sequence[str | Column], path: str):
    """``foreachBatch`` sink: continuous view maintenance from a stream,
    one segment per micro-batch, EXACTLY-ONCE across restarts.

        q = (stream.writeStream
             .foreachBatch(view_stream_writer(["role"], spec,
                                              ["conv_id"], path))
             .option("checkpointLocation", ckpt)
             .start())

    Structured Streaming re-delivers the last uncommitted batch after a
    crash.  Segment files are immutable and the manifest note records
    the batch id, so a replayed batch either finds its note (the prior
    attempt committed — no-op) or redoes the whole append; the files of
    the failed attempt are listed in no manifest, so no reader opens
    them, and the redo writes new ones beside them.  The first batch
    creates the view."""
    dims = list(dims)

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        note = f"stream_batch={batch_id}"
        try:
            m = _read_manifest(path)
        except FileNotFoundError:  # no manifest yet: first batch creates
            view_materialize(batch_df, dims, spec, cols, path, note=note)
            return
        if any(r.note == note or r.note.startswith(note + ";")
               for r in m.rows):
            return  # replayed batch: the prior attempt committed
        view_append(batch_df, spec, cols, path, note=note)

    return fn


def _read_bucket(fs: pafs.FileSystem, files: list[str], dims: list[str],
                 keys: list[str]) -> pa.Table:
    """One bucket's ``files`` read with pyarrow as ``[*dims, sketch, rows,
    seg]``, each file's rows tagged with its segment, and stable-sorted
    by ``keys`` (some of ``dims``), the other dims and ``seg``, NULLs
    first as in Spark's ascending sort (the files hold no NaN key: the
    fold writes it as NULL).  Each group of ``keys`` is then one run that
    merges in the order of ``regroup_sketch_rows(order_cols=[*dims,
    "seg"])``."""
    tables = []
    for f in files:  # <root>/seg=<id>/part-...: [*dims, sketch, rows]
        t = pq.read_table(f, filesystem=fs)
        seg = int(f.rsplit("/seg=", 1)[1].split("/", 1)[0])
        tables.append(t.append_column(
            pa.field("seg", pa.int32()), pa.array([seg] * len(t), pa.int32())))
    t = pa.concat_tables(tables)
    order = [*keys, *(d for d in dims if d not in keys), "seg"]
    return t.take(pc.sort_indices(t, [(c, "ascending") for c in order],
                                  null_placement="at_start"))


def _fold_bucket(fs: pafs.FileSystem, files: list[str], dims: list[str],
                 keys: list[str], estimate_col: str | None = None
                 ) -> pa.Table:
    """One bucket's ``files`` (:func:`_read_bucket`) folded by
    :func:`~sparksketch.agg.fold_sketch_runs` to ``[*keys, sketch, rows]``
    (the bytes ``regroup_sketch_rows`` gives), or with ``estimate_col`` to
    ``[*keys, rows, <estimate_col>]``."""
    t = fold_sketch_runs(_read_bucket(fs, files, dims, keys), keys)
    return _estimated(t, estimate_col) if estimate_col else t


def _map_buckets(spark: SparkSession, buckets: list[list[str]], fn,
                 schema) -> DataFrame:
    """``spark.range(B).mapInArrow``, B tasks: task ``b`` emits the batches
    ``fn(b, files)`` of bucket ``b``'s ``files`` (none if it has none)."""
    def run(batches):
        for ids in batches:
            for b in ids.column("id").to_pylist():
                if buckets[b]:
                    yield from fn(b, buckets[b])

    n = len(buckets)
    return spark.range(n, numPartitions=n).mapInArrow(run, schema)


def view_compact(spark: SparkSession, path: str,
                 note: str = "compact") -> int:
    """Fold the active segments into one (pure sketch algebra, no fact
    scan) in one Spark job of B tasks, task ``b`` folding bucket ``b``'s
    files (no file scan, no shuffle).  Old segments stay on storage for
    lineage but are marked inactive; returns the new segment id."""
    m = _read_manifest(path)
    seg, dims = m.max_seg + 1, m.dims
    fs, buckets = m.bucket_files(path)
    target = fs_path(f"{_segments_path(path)}/seg={seg}")
    written = _map_buckets(
        spark, buckets,
        lambda b, files: [write_part(_fold_bucket(fs, files, dims, dims),
                                     target, b)],
        WRITTEN_SCHEMA).collect()
    # notes are PRESERVED (the streaming writer's exactly-once check
    # matches on them); the compaction marker is appended after ';'
    kept = [r._replace(active=False,
                       note=f"{r.note}; compacted into {seg}")
            if r.active else r for r in m.rows]
    _write_manifest(path, kept + [_new_segment(
        seg, m.spec, dims, note, written, m.schema, m.nbuckets)])
    return seg
