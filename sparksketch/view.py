"""Materialized sketch views: log-structured, incrementally maintained
sketch rollups — the hypertable-rollup pattern a 100 TB transcript
pipeline needs.  A scheduled job appends one SEGMENT of per-``dims``
sketch rows per batch of new data (the ONLY fact-table scan, built by
:func:`~sparksketch.agg.grouped_sketch`'s two stages, which never shuffle
raw rows); interactive queries read KB-scale sketch rows, merge them with
the sketch algebra (:func:`~sparksketch.agg.regroup_sketch_rows`) and
answer at any grouping set coarser than ``dims`` — never rescanning the
facts.  Compaction folds the segment log back to one segment with the
same algebra.  Every one of these folds — append, query, compaction and
the sketchview reader — is :func:`~sparksketch.agg.fold_sketch_runs` over
Arrow rows sorted by group.

Storage layout:

    <path>/segments/seg=<id>/part-<bucket>-<uuid>.parquet  [*dims, sketch, rows]
    <path>/manifest/manifest.parquet
        (seg, spec, dims, active, note, files, buckets, schema, nbuckets)

Segments are bucketed: a group's rows live in bucket
``pmod(xxhash64(*dims), B)`` of every segment.  B follows the view's
size: about one bucket per ``_GROUPS_PER_BUCKET`` groups of segment 0,
capped at the session's default parallelism P when the view is
materialized (so one wave of tasks covers every bucket), and a divisor
of P.  A small view is one bucket, and pays no per-bucket file on
appends and query scans.  The materialize/append fold computes the
bucket in the JVM and sends bucket ``b`` to fold task ``b``
(``regroup_sketch_rows(write_dir=..., buckets=...)``, a
``repartitionById``), which writes the bucket's file with pyarrow and
returns its name; no Spark write job runs.  Materialize folds in P
buckets, since the group count is known only after the fold, and then
records each file under bucket ``b % B`` (``pmod(h, P) % B ==
pmod(h, B)`` when B divides P), so segment 0 may hold several files per
bucket; every later segment holds at most one.  The manifest records B
with each file's bucket.  Since one bucket's files hold every row of
its groups, compaction and the sketchview reader fold bucket by
bucket (:func:`_fold_bucket`: read, sort, ``fold_sketch_runs``) with no
shuffle: compaction is one job of B tasks (``spark.range(B).mapInArrow``),
each folding one bucket's files of the active segments into the new
segment's file for that bucket.

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
by its ``_`` prefix.  The rename is atomic on POSIX local paths (and
HDFS); object stores have no atomic rename.  Only local paths are
verified here.

``view_query`` and ``view_rows`` scan the listed files of the requested
segments with ``spark.read.schema(<manifest schema>)`` and ``basePath``
(``seg`` comes from the paths): no directory listing, no schema-inference
job, and no parallel file-status job however many files are listed (the
listing threshold is raised to the file count for that one call, under
a lock so concurrent view calls in one process do not undo each other's
raise).  The manifest records repr(spec), so an append with a mismatched
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
import threading
import uuid
from dataclasses import dataclass
from typing import NamedTuple, Sequence

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyarrow import fs as pafs
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql.types import IntegerType, StructField, StructType

from .agg import (SketchSpec, _grouped_partials, _sketch_row_schema,
                  fold_sketch_runs, regroup_sketch_rows)
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
# bucket costs one more file per append, which every query scan opens;
# below a few thousand groups per bucket that costs more than the read
# parallelism saves (views_rw's 2,048-group view ran faster as one
# bucket than as four).
_GROUPS_PER_BUCKET = 8192
_LISTING_LOCK = threading.Lock()  # see _segment_rows


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

    def files(self, path: str,
              requested: Sequence[int] | None = None) -> list[str]:
        """The files of the segments a read covers (see :meth:`segments`),
        in segment order, as paths under the view at ``path``."""
        segs = set(self.segments(requested))
        root = _segments_path(path)
        return [f"{root}/{f}" for r in self.rows if r.seg in segs
                for f in r.files]

    def bucket_files(self, root: str,
                     requested: Sequence[int] | None = None
                     ) -> list[list[str]]:
        """Per bucket, the files of the segments a read covers (see
        :meth:`segments`) in segment order, as paths under ``root``, the
        view's segments directory: what :func:`_fold_bucket` reads."""
        segs = set(self.segments(requested))
        out: list[list[str]] = [[] for _ in range(self.nbuckets)]
        for r in self.rows:
            if r.seg in segs:
                for f, b in zip(r.files, r.buckets):
                    out[b].append(f"{root}/{f}")
        return out


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
    parts = _grouped_partials(df, dims, spec, cols)
    p = df.sparkSession.sparkContext.defaultParallelism
    written = _write_segment(parts, dims, path, 0, p)
    _write_manifest(path, [_new_segment(
        0, repr(spec), dims, note, written, _sketch_row_schema(parts, dims),
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
    parts = _grouped_partials(df, m.dims, spec, cols)
    schema = _sketch_row_schema(parts, m.dims)
    if schema != m.schema:
        raise ValueError(
            f"dim types mismatch: view built with {m.schema.simpleString()}"
            f", append gives {schema.simpleString()}")
    seg = m.max_seg + 1
    written = _write_segment(parts, m.dims, path, seg, m.nbuckets)
    _write_manifest(path, m.rows + [_new_segment(
        seg, m.spec, m.dims, note, written, schema, m.nbuckets)])
    return seg


def _segment_rows(spark: SparkSession, m: _Manifest, path: str,
                  segments: Sequence[int] | None) -> DataFrame:
    """``[*dims, seg, sketch, rows]`` of the covered segments: a scan of
    exactly their listed files with the manifest's schema.  Spark lists
    more than ``parallelPartitionDiscovery.threshold`` paths with a job of
    its own; the threshold is raised to the file count for this call.
    The conf is session-wide: a lock keeps two view calls of this process
    from saving each other's raised value as the one to restore, and a
    read planned by other code meanwhile may list its paths on the
    driver instead of with a job."""
    files = m.files(path, segments)
    if not files:  # only empty segments; a file scan needs a path
        return spark.createDataFrame([], StructType(
            m.schema.fields + [StructField("seg", IntegerType())])
        ).select(*m.dims, "seg", "sketch", "rows")
    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    with _LISTING_LOCK:
        old = spark.conf.get(key)
        spark.conf.set(key, str(max(int(old), len(files))))
        try:
            src = (spark.read.schema(m.schema)
                   .option("basePath", _segments_path(path)).parquet(*files))
        finally:
            spark.conf.set(key, old)
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


def _fold_bucket(fs: pafs.FileSystem, files: list[str],
                 dims: list[str]) -> pa.Table:
    """Fold one bucket: read its ``files`` (listed in segment order) with
    pyarrow, stable-sort the rows by ``dims`` so each group's rows keep
    their segment order, and fold the runs with
    :func:`~sparksketch.agg.fold_sketch_runs`.  Returns ``[*dims, sketch,
    rows]``, one row per group: the bytes ``regroup_sketch_rows`` gives,
    which also merges each group in segment order."""
    t = pa.concat_tables([pq.read_table(f, filesystem=fs) for f in files])
    if dims:
        t = t.take(pc.sort_indices(t, [(d, "ascending") for d in dims]))
    return fold_sketch_runs(t, dims)


def view_compact(spark: SparkSession, path: str,
                 note: str = "compact") -> int:
    """Fold the active segments into one (pure sketch algebra, no fact
    scan) in one Spark job of B tasks, task ``b`` folding bucket ``b``'s
    files (no file scan, no shuffle).  Old segments stay on storage for
    lineage but are marked inactive; returns the new segment id."""
    m = _read_manifest(path)
    seg, dims = m.max_seg + 1, m.dims
    fs, root = fs_path(_segments_path(path))
    buckets = m.bucket_files(root)
    target = (fs, f"{root}/seg={seg}")

    def fold(batches):
        for ids in batches:
            for b in ids.column("id").to_pylist():
                if buckets[b]:
                    yield write_part(_fold_bucket(fs, buckets[b], dims),
                                     target, b)

    written = (spark.range(m.nbuckets, numPartitions=m.nbuckets)
               .mapInArrow(fold, WRITTEN_SCHEMA).collect())
    # notes are PRESERVED (the streaming writer's exactly-once check
    # matches on them); the compaction marker is appended after ';'
    kept = [r._replace(active=False,
                       note=f"{r.note}; compacted into {seg}")
            if r.active else r for r in m.rows]
    _write_manifest(path, kept + [_new_segment(
        seg, m.spec, dims, note, written, m.schema, m.nbuckets)])
    return seg
