"""`spark.read.format("sketchview")` — the materialized sketch view
(view.py) as a Spark 4 Python Data Source.

    spark.dataSource.register(SketchViewDataSource)
    df = (spark.read.format("sketchview")
          .option("path", view_path)
          .option("buckets", 8)            # read parallelism
          .option("segments", "0,2")       # optional segment restriction
          .load())
    # -> [*dims, estimate double, rows bigint]

The segment list is resolved once, on the driver at plan time, by the
same manifest reader ``view_query`` uses (view.py): the active segments,
or the ``segments`` option validated against the manifest (unknown ids,
or compacted-away ids mixed with active ones, raise).  Each input
partition owns a deterministic hash bucket of the GROUP KEY space: it
scans those segments' sketch rows with pyarrow (KB-scale rows — the fact
table was only touched when the segments were built), keeps its bucket's
groups, merges their blobs with the sketch algebra, and emits one
(group, estimate, rows) tuple per group.  The merge is per-group
associative+commutative, so bucket-parallel reads are exact.

This surface is the catalog-style integration seam: the same view
directory serves `view_query` (DataFrame API), the registered SQL
functions over sketch rows, and plain `spark.read` here.  Segment files
are found with a local glob, so this reader takes local/POSIX paths
only.
"""

from __future__ import annotations

import zlib

from pyspark.sql.datasource import (DataSource, DataSourceReader,
                                    InputPartition)

from .agg import _estimate
from .view import _read_manifest

_ARROW_TO_DDL = {
    "string": "string", "large_string": "string",
    "int8": "tinyint", "int16": "smallint", "int32": "int",
    "int64": "bigint", "float": "float", "double": "double",
    "bool": "boolean", "date32[day]": "date",
}


def _bucket(key: tuple, n: int) -> int:
    """Deterministic bucket of a group key (crc32 of a length-framed
    repr — builtin hash() is seed-randomized across executors)."""
    s = "\x1f".join(f"{len(repr(k))}:{repr(k)}" for k in key)
    return zlib.crc32(s.encode()) % n


class SketchViewDataSource(DataSource):
    """Reader-only data source over a sketch-view directory."""

    @classmethod
    def name(cls) -> str:
        return "sketchview"

    def schema(self) -> str:
        import pyarrow.parquet as pq
        path = self.options.get("path")
        if not path:
            raise ValueError("sketchview needs .option('path', ...)")
        m = _read_manifest(path)
        dims, active = m.dims, m.active
        if not active:
            raise ValueError(f"sketch view at {path} has no active "
                             "segments")
        seg = pq.read_schema(
            self._seg_file(path, active[0]))
        cols = []
        for d in dims:
            at = str(seg.field(d).type)
            if at not in _ARROW_TO_DDL:
                raise ValueError(f"unsupported dim type {at} for {d}")
            cols.append(f"`{d}` {_ARROW_TO_DDL[at]}")
        return ", ".join(cols + ["estimate double", "rows bigint"])

    @staticmethod
    def _seg_file(path: str, seg: int) -> str:
        import glob
        files = sorted(glob.glob(
            path.rstrip("/") + f"/segments/seg={seg}/*.parquet"))
        if not files:
            raise ValueError(f"segment {seg} has no parquet files")
        return files[0]

    def reader(self, schema):
        return _SketchViewReader(self.options)


class _SketchViewReader(DataSourceReader):
    def __init__(self, options):
        self.path = options.get("path")
        self.n_buckets = int(options.get("buckets", 8))
        segs = options.get("segments")
        self.segments = ([int(s) for s in str(segs).split(",")]
                         if segs not in (None, "") else None)
        # resolved on the DRIVER at plan time so every read task agrees
        m = _read_manifest(self.path)
        self.dims, self.use_segs = m.dims, m.segments(self.segments)

    def partitions(self):
        return [InputPartition(i) for i in range(self.n_buckets)]

    def read(self, partition):
        import glob

        import pyarrow.parquet as pq

        from .sketches import merge_blob_list
        bucket = partition.value
        groups: dict[tuple, list] = {}
        for seg in self.use_segs:
            for f in sorted(glob.glob(
                    self.path.rstrip("/")
                    + f"/segments/seg={seg}/*.parquet")):
                t = pq.read_table(f, columns=[*self.dims, "sketch",
                                              "rows"])
                cols = [t.column(d).to_pylist() for d in self.dims]
                blobs = t.column("sketch").to_pylist()
                rows = t.column("rows").to_pylist()
                for i in range(t.num_rows):
                    key = tuple(c[i] for c in cols)
                    if _bucket(key, self.n_buckets) != bucket:
                        continue
                    ent = groups.setdefault(key, [[], 0])
                    ent[0].append(blobs[i])
                    ent[1] += int(rows[i])
        for key in sorted(groups, key=repr):
            blobs, nrows = groups[key]
            yield (*key, _estimate(merge_blob_list(blobs)), nrows)
