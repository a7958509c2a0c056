"""`spark.read.format("sketchview")` — the materialized sketch view
(view.py) as a Spark 4 Python Data Source.

    spark.dataSource.register(SketchViewDataSource)
    df = (spark.read.format("sketchview")
          .option("path", view_path)
          .option("segments", "0,2")       # optional segment restriction
          .load())
    # -> [*dims, estimate double, rows bigint]

The file lists are resolved once, at plan time, by the same manifest
reader ``view_query`` uses (view.py): the files the manifest lists for
the active segments, or for the ``segments`` option validated against the
manifest (unknown ids, or compacted-away ids mixed with active ones,
raise).  Files no manifest lists are never opened.  The schema's dim
types come from the manifest too.

There is one input partition per stored bucket of the view; B is at
most the default parallelism the view was built with, so a read is one
wave of tasks (one task for a small view).  Each task opens only its
bucket's files (every row of a group lives in its bucket) and folds and
estimates them with ``view._fold_bucket`` at the view's dims: the bucket
read, sort and ``agg.fold_sketch_runs`` of every view read, and the task
body of a ``view_query`` at the view's dims.  It emits (group, estimate,
rows), one row per group; each row of the view is read once.

This surface is the catalog-style integration seam: the same view
directory serves `view_query` (DataFrame API), the registered SQL
functions over sketch rows, and plain `spark.read` here.
"""

from __future__ import annotations

from pyspark.sql.datasource import (DataSource, DataSourceReader,
                                    InputPartition)
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from .view import _fold_bucket, _read_manifest


class SketchViewDataSource(DataSource):
    """Reader-only data source over a sketch-view directory."""

    @classmethod
    def name(cls) -> str:
        return "sketchview"

    def schema(self) -> StructType:
        path = self.options.get("path")
        if not path:
            raise ValueError("sketchview needs .option('path', ...)")
        m = _read_manifest(path)
        return StructType([m.schema[d] for d in m.dims]
                          + [StructField("estimate", DoubleType()),
                             StructField("rows", LongType())])

    def reader(self, schema):
        return _SketchViewReader(self.options)


class _SketchViewReader(DataSourceReader):
    def __init__(self, options):
        path = options.get("path")
        segs = options.get("segments")
        segments = ([int(s) for s in str(segs).split(",")]
                    if segs not in (None, "") else None)
        # resolved once at plan time so every read task agrees
        m = _read_manifest(path)
        self.dims = m.dims
        self.fs, self.buckets = m.bucket_files(path, segments)

    def partitions(self):
        """One partition per bucket; its value is the bucket's files."""
        return [InputPartition(files) for files in self.buckets]

    def read(self, partition):
        if not partition.value:
            return
        t = _fold_bucket(self.fs, partition.value, self.dims, self.dims,
                         "estimate")
        yield from t.select([*self.dims, "estimate", "rows"]).to_batches()
