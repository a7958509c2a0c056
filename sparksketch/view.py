"""Materialized sketch views: log-structured, incrementally maintained
sketch rollups — the hypertable-rollup pattern a 100 TB transcript
pipeline needs.  A scheduled job appends one SEGMENT of per-``dims``
sketch rows per batch of new data (the ONLY fact-table scan, built by
:func:`~sparksketch.agg.grouped_sketch`'s two stages, which never shuffle
raw rows); interactive queries read KB-scale sketch rows, merge them with
the sketch algebra (:func:`~sparksketch.agg.regroup_sketch_rows`) and
answer at any grouping set coarser than ``dims`` — never rescanning the
facts.  Compaction folds the segment log back to one segment with the
same algebra.

Storage layout:

    <path>/segments/seg=<id>/part-<pid>-<uuid>.parquet  [*dims, sketch, rows]
    <path>/manifest/manifest.parquet
        (seg, spec, dims, active, note, files, schema)

Each fold task that makes a segment's rows writes them as one parquet
file with pyarrow (``regroup_sketch_rows(write_dir=...)``) and returns
its name; no Spark write job runs.  The manifest is one KB-scale parquet
file the DRIVER reads and writes with pyarrow: per segment, its files
(relative to ``<path>/segments``) and the rows' Spark schema as JSON,
which parses without a JVM (the sketchview reader plans in a Python
worker).  Every mutation writes the whole new manifest to
``manifest/_tmp-<uuid>.parquet`` and renames it over
``manifest.parquet``, so a reader sees the old manifest or the new one,
never a missing or partial file.  The rename is the only commit: every
reader opens exactly the listed files, so a file no manifest lists (a
failed write's segment, a failed or speculative task attempt's output)
is never read, and a stray ``_tmp-*`` file is hidden by its ``_``
prefix.  The rename is atomic on POSIX local paths (and HDFS); object
stores have no atomic rename.  Only local paths are verified here.

Reads scan the listed files of the requested segments with
``spark.read.schema(<manifest schema>)`` and ``basePath`` (``seg`` comes
from the paths): no directory listing, no schema-inference job.  Past
``spark.sql.sources.parallelPartitionDiscovery.threshold`` (32) files,
Spark looks up their status with a parallel job of its own.  The
manifest records repr(spec), so an append with a mismatched sketch spec
fails loudly instead of silently merging incompatible blobs (the
wire-format VERSION's contract at the byte level).  A manifest without
file lists (the earlier directory-listed layout) is rejected.

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
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql.types import IntegerType, StructField, StructType

from .agg import (SketchSpec, _grouped_partials, _sketch_row_schema,
                  regroup_sketch_rows)
from .io import fs_path

_MANIFEST_FILE = "manifest.parquet"
_MANIFEST_SCHEMA = pa.schema([("seg", pa.int32()), ("spec", pa.string()),
                              ("dims", pa.string()), ("active", pa.bool_()),
                              ("note", pa.string()),
                              ("files", pa.list_(pa.string())),
                              ("schema", pa.string())])


class _Segment(NamedTuple):
    """One manifest row: a segment, its files and the rows' schema."""
    seg: int
    spec: str
    dims: str
    active: bool
    note: str
    files: list[str]  # relative to <path>/segments
    schema: str       # Spark StructType JSON of [*dims, sketch, rows]


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

    def files(self, path: str,
              requested: Sequence[int] | None = None) -> list[str]:
        """The files of the segments a read covers (see :meth:`segments`),
        in segment order, as paths under the view at ``path``."""
        segs = set(self.segments(requested))
        root = _segments_path(path)
        return [f"{root}/{f}" for r in self.rows if r.seg in segs
                for f in r.files]


def _read_manifest(path: str) -> _Manifest:
    """The view's current manifest; raises ``FileNotFoundError`` when the
    view has none yet and ``ValueError`` for a manifest of the earlier
    layout, whose segments were found by listing directories."""
    fs, d = fs_path(path.rstrip("/") + "/manifest")
    t = pq.read_table(f"{d}/{_MANIFEST_FILE}", filesystem=fs)
    if t.schema.names != _MANIFEST_SCHEMA.names:
        raise ValueError(
            f"the view at {path} has a manifest of the old layout, without "
            "segment file lists (columns "
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


def _write_segment(rows: DataFrame, dims: list[str], order_cols: list[str],
                   path: str, seg: int, spec: str, note: str) -> _Segment:
    """Fold ``rows`` to one row per ``dims`` group, each fold task writing
    its rows as one file of segment ``seg``; the segment's manifest row,
    not yet committed."""
    seg_dir = f"seg={seg}"
    written = regroup_sketch_rows(
        rows, dims, order_cols=order_cols,
        write_dir=f"{_segments_path(path)}/{seg_dir}").collect()
    return _Segment(seg, spec, ",".join(dims), True, note,
                    [f"{seg_dir}/{r.file}" for r in written],
                    _sketch_row_schema(rows, dims).json())


def view_materialize(df: DataFrame, dims: Sequence[str], spec: SketchSpec,
                     cols: Sequence[str | Column], path: str,
                     note: str = "initial") -> None:
    """Create the view: build per-``dims`` sketch rows from ``df`` (one
    fact scan, raw rows never shuffle) and write them as segment 0."""
    dims = list(dims)
    parts = _grouped_partials(df, dims, spec, cols)
    _write_manifest(path, [_write_segment(parts, dims, ["_pid"], path, 0,
                                          repr(spec), note)])


def view_append(df: DataFrame, spec: SketchSpec,
                cols: Sequence[str | Column], path: str,
                note: str = "append") -> int:
    """Append one segment built from new facts (e.g. today's partition).
    The spec must match the view's recorded spec exactly — mergeable
    blobs of different shapes fail loudly here, not silently at query
    time.  Returns the new segment id."""
    m = _read_manifest(path)
    if repr(spec) != m.spec:
        raise ValueError(
            f"sketch spec mismatch: view built with {m.spec}, "
            f"append called with {repr(spec)}")
    seg = m.max_seg + 1
    parts = _grouped_partials(df, m.dims, spec, cols)
    _write_manifest(path, m.rows + [_write_segment(
        parts, m.dims, ["_pid"], path, seg, m.spec, note)])
    return seg


def _segment_rows(spark: SparkSession, m: _Manifest, path: str,
                  segments: Sequence[int] | None) -> DataFrame:
    """``[*dims, seg, sketch, rows]`` of the covered segments: a scan of
    exactly their listed files with the manifest's schema."""
    files = m.files(path, segments)
    if files:
        src = (spark.read.schema(m.schema)
               .option("basePath", _segments_path(path)).parquet(*files))
    else:  # only empty segments; a file scan needs at least one path
        src = spark.createDataFrame([], StructType(
            m.schema.fields + [StructField("seg", IntegerType())]))
    return src.select(*m.dims, "seg", "sketch", "rows")


def _view_rows(spark: SparkSession, m: _Manifest, path: str,
               group_cols: Sequence[str] | None, where: Column | None,
               segments: Sequence[int] | None,
               estimate_col: str | None = None) -> DataFrame:
    src = _segment_rows(spark, m, path, segments)
    if where is not None:
        src = src.filter(where)
    dims = m.dims
    gcols = dims if group_cols is None else list(group_cols)
    unknown = [c for c in gcols if c not in dims]
    if unknown:
        raise ValueError(f"group cols {unknown} not in view dims {dims}")
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
    mergeable.  ``where`` filters on dim columns BEFORE the merge (the
    predicate reaches the parquet scan of KB-scale rows); ``segments``
    restricts the scan to those segments' files (default: the active
    set; unknown ids, or compacted-away ids mixed with active ones,
    raise ``ValueError``)."""
    return _view_rows(spark, _read_manifest(path), path, group_cols, where,
                      segments)


def view_query(spark: SparkSession, path: str,
               group_cols: Sequence[str] | None = None,
               where: Column | None = None,
               segments: Sequence[int] | None = None,
               estimate_col: str = "estimate") -> DataFrame:
    """``view_rows`` + executor-side estimates: the driver only ever sees
    (group, rows, estimate) — sketch blobs stay on the executors, and the
    estimate is taken inside the merge's own Python operator."""
    return _view_rows(spark, _read_manifest(path), path, group_cols, where,
                      segments, estimate_col)


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


def view_compact(spark: SparkSession, path: str,
                 note: str = "compact") -> int:
    """Fold the active segments into one (pure sketch algebra, no fact
    scan).  Old segments stay on storage for lineage but are marked
    inactive; returns the new segment id."""
    m = _read_manifest(path)
    active = set(m.active)
    seg = m.max_seg + 1
    new = _write_segment(_segment_rows(spark, m, path, None), m.dims,
                         [*m.dims, "seg"], path, seg, m.spec, note)
    # notes are PRESERVED (the streaming writer's exactly-once check
    # matches on them); the compaction marker is appended after ';'
    kept = [r._replace(active=False,
                       note=f"{r.note}; compacted into {seg}")
            if r.seg in active else r for r in m.rows]
    _write_manifest(path, kept + [new])
    return seg
