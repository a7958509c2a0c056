"""Materialized sketch views: log-structured, incrementally maintained
sketch rollups — the hypertable-rollup pattern a 100 TB transcript
pipeline needs.  A scheduled job appends one SEGMENT of per-``dims``
sketch rows per batch of new data (the ONLY fact-table scan, built by
:func:`~sparksketch.agg.grouped_sketch`, which never shuffles raw rows);
interactive queries read KB-scale sketch rows, merge them with the sketch
algebra (:func:`~sparksketch.agg.regroup_sketch_rows`) and answer at any
grouping set coarser than ``dims`` — never rescanning the facts.
Compaction folds the segment log back to one segment with the same
algebra.

Storage layout:

    <path>/segments/seg=<id>/*.parquet    [*dims, sketch, rows]
    <path>/manifest/manifest.parquet      (seg, spec, dims, active, note)

Segments are written by Spark.  The manifest is one KB-scale parquet file
the DRIVER reads and writes with pyarrow — no Spark job touches it.  Every
mutation writes the whole new manifest to ``manifest/_tmp-<uuid>.parquet``
and then renames it over ``manifest.parquet``, so a reader sees either the
old manifest or the new one, never a missing or partial file.  A failed
write leaves the old manifest in force plus a stray ``_tmp-*`` file, which
pyarrow and Spark both skip (``_``-prefixed names are hidden); the new
segment files it may leave are unreachable, because queries read only the
segments the manifest lists.  The rename is atomic on POSIX local paths
(and HDFS); object stores have no atomic rename.  Only local paths are
verified here.

``seg`` is a parquet PARTITION column: restricting a query to specific
segments (e.g. the last day's) is partition pruning in the scan, not a
filter over all rows.  The manifest records repr(spec) so an append with
a mismatched sketch spec fails loudly instead of silently merging
incompatible blobs (the same contract the wire-format VERSION enforces
at the byte level).

Concurrency note: segment files are immutable once written and each
manifest commit is one atomic rename, so readers never block or see a
torn state.  Concurrent WRITERS are not serialized: two appends racing
on the same view both read manifest version n and the later rename wins,
dropping the other's segment.  Deployments with concurrent writers swap
the io seam to Iceberg/Delta (io.py) and inherit their atomic commit.
"""

from __future__ import annotations

import os
import uuid
from dataclasses import dataclass
from typing import Sequence

import pyarrow as pa
import pyarrow.parquet as pq
from pyarrow import fs as pafs
from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from .agg import SketchSpec, grouped_sketch, regroup_sketch_rows

_MANIFEST_FILE = "manifest.parquet"
_MANIFEST_SCHEMA = pa.schema([("seg", pa.int32()), ("spec", pa.string()),
                              ("dims", pa.string()), ("active", pa.bool_()),
                              ("note", pa.string())])


def _segments_path(path: str) -> str:
    return path.rstrip("/") + "/segments"


def _manifest_dir(path: str) -> tuple[pafs.FileSystem, str]:
    d = path.rstrip("/") + "/manifest"
    try:
        return pafs.FileSystem.from_uri(d)
    except pa.ArrowInvalid:  # relative local path
        return pafs.LocalFileSystem(), os.path.abspath(d)


@dataclass(frozen=True)
class _Manifest:
    """A view's manifest: one ``(seg, spec, dims, active, note)`` row per
    segment, sorted by segment id."""
    rows: list[tuple]

    @property
    def dims(self) -> list[str]:
        return self.rows[0][2].split(",") if self.rows[0][2] else []

    @property
    def spec(self) -> str:
        return self.rows[0][1]

    @property
    def active(self) -> list[int]:
        return [r[0] for r in self.rows if r[3]]

    @property
    def max_seg(self) -> int:
        return self.rows[-1][0]

    def segments(self, requested: Sequence[int] | None = None) -> list[int]:
        """The segment ids a read covers: the active set by default, else
        ``requested`` once validated.  Unknown ids raise, and so does
        mixing compacted-away segments with active ones — the active
        compaction already holds their rows, so the merge would count
        them twice."""
        if requested is None:
            return self.active
        segs = sorted({int(s) for s in requested})
        known = {r[0]: r[3] for r in self.rows}
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


def _read_manifest(path: str) -> _Manifest:
    """The view's current manifest; raises ``FileNotFoundError`` when the
    view has none yet."""
    fs, d = _manifest_dir(path)
    t = pq.read_table(f"{d}/{_MANIFEST_FILE}", filesystem=fs,
                      schema=_MANIFEST_SCHEMA)
    return _Manifest(sorted(tuple(r.values()) for r in t.to_pylist()))


def _write_manifest(path: str, rows: list[tuple]) -> None:
    """Commit ``rows`` as the view's manifest: write a hidden temp file,
    then rename it over the current one."""
    fs, d = _manifest_dir(path)
    fs.create_dir(d, recursive=True)
    tmp = f"{d}/_tmp-{uuid.uuid4().hex}.parquet"
    pq.write_table(pa.Table.from_pylist(
        [dict(zip(_MANIFEST_SCHEMA.names, r)) for r in rows],
        schema=_MANIFEST_SCHEMA), tmp, filesystem=fs)
    fs.move(tmp, f"{d}/{_MANIFEST_FILE}")


def view_materialize(df: DataFrame, dims: Sequence[str], spec: SketchSpec,
                     cols: Sequence[str | Column], path: str,
                     note: str = "initial") -> None:
    """Create the view: build per-``dims`` sketch rows from ``df`` (one
    fact scan, raw rows never shuffle) and write them as segment 0."""
    dims = list(dims)
    rows = grouped_sketch(df, dims, spec, cols)
    (rows.write.mode("overwrite")
     .parquet(_segments_path(path) + "/seg=0"))
    _write_manifest(path, [(0, repr(spec), ",".join(dims), True, note)])


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
    rows = grouped_sketch(df, m.dims, spec, cols)
    (rows.write.mode("overwrite")
     .parquet(_segments_path(path) + f"/seg={seg}"))
    _write_manifest(path, m.rows + [(seg, m.spec, ",".join(m.dims), True,
                                     note)])
    return seg


def _view_rows(spark: SparkSession, m: _Manifest, path: str,
               group_cols: Sequence[str] | None, where: Column | None,
               segments: Sequence[int] | None,
               estimate_col: str | None = None) -> DataFrame:
    src = spark.read.parquet(_segments_path(path))
    src = src.filter(F.col("seg").isin(m.segments(segments)))
    if where is not None:
        src = src.filter(where)
    dims = m.dims
    gcols = dims if group_cols is None else list(group_cols)
    unknown = [c for c in gcols if c not in dims]
    if unknown:
        raise ValueError(f"group cols {unknown} not in view dims {dims}")
    # deterministic merge order: remaining dims, then segment id
    return regroup_sketch_rows(src.select(*dims, "seg", "sketch", "rows"),
                               gcols, order_cols=[*dims, "seg"],
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
    restricts to specific segment ids via parquet partition pruning
    (default: the active set; unknown ids, or compacted-away ids mixed
    with active ones, raise ``ValueError``)."""
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
    attempt committed — no-op) or redoes the whole append; partially
    written segment files without a manifest row are unreachable by
    queries, so the redo overwrites them harmlessly.  The first batch
    creates the view."""
    dims = list(dims)

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        note = f"stream_batch={batch_id}"
        try:
            m = _read_manifest(path)
        except FileNotFoundError:  # no manifest yet: first batch creates
            view_materialize(batch_df, dims, spec, cols, path, note=note)
            return
        if any(nt == note or nt.startswith(note + ";")
               for *_a, nt in m.rows):
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
    merged = _view_rows(spark, m, path, None, None, None)  # full dims
    seg = m.max_seg + 1
    (merged.write.mode("overwrite")
     .parquet(_segments_path(path) + f"/seg={seg}"))
    # notes are PRESERVED (the streaming writer's exactly-once check
    # matches on them); the compaction marker is appended after ';'
    kept = [(s, sp, d, act and s not in active,
             f"{nt}; compacted into {seg}" if act and s in active else nt)
            for s, sp, d, act, nt in m.rows]
    _write_manifest(path, kept + [(seg, m.spec, ",".join(m.dims), True,
                                   note)])
    return seg
