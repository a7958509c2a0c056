"""`spark.read.format("sketchview")` — the materialized sketch view
(view.py) as a Spark 4 Python Data Source.

    spark.dataSource.register(SketchViewDataSource)
    df = (spark.read.format("sketchview")
          .option("path", view_path)
          .option("buckets", 8)            # read parallelism
          .option("segments", "0,2")       # optional segment restriction
          .load())
    # -> [*dims, estimate double, rows bigint]

The file list is resolved once, at plan time, by the same manifest
reader ``view_query`` uses (view.py): the files the manifest lists for
the active segments, or for the ``segments`` option validated against the
manifest (unknown ids, or compacted-away ids mixed with active ones,
raise).  Files no manifest lists are never opened.  The schema's dim
types come from the manifest too.  Each input partition owns a
deterministic hash bucket of the GROUP KEY space: it reads those files'
sketch rows with pyarrow (KB-scale rows — the fact table was only touched
when the segments were built), keeps its bucket's
groups (the bucket test runs once per distinct key), stable-sorts those
rows by key and folds each key's run with ``merge_blob_runs`` (one stacked
NumPy max/OR for HLL and dense Bloom), and emits one (group, estimate,
rows) tuple per group.  The merge is per-group associative+commutative,
so bucket-parallel reads are exact.

Read amplification: segments carry no bucket column, so EVERY bucket task
reads every row of every segment it covers and keeps about 1/buckets of
them — the view is read ``buckets`` times over.  Rows are KB-scale sketch
rows, so this is cheap at today's view sizes; a persisted
``bucket = pmod(xxhash64(*dims), B)`` column written at append/compact
time would let each task read only its slice (ROADMAP item 1).

This surface is the catalog-style integration seam: the same view
directory serves `view_query` (DataFrame API), the registered SQL
functions over sketch rows, and plain `spark.read` here.
"""

from __future__ import annotations

import zlib

from pyspark.sql.datasource import (DataSource, DataSourceReader,
                                    InputPartition)
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from .agg import _estimate
from .view import _read_manifest


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

    def schema(self) -> StructType:
        path = self.options.get("path")
        if not path:
            raise ValueError("sketchview needs .option('path', ...)")
        m = _read_manifest(path)
        seg_rows = m.schema
        return StructType([seg_rows[d] for d in m.dims]
                          + [StructField("estimate", DoubleType()),
                             StructField("rows", LongType())])

    def reader(self, schema):
        return _SketchViewReader(self.options)


class _SketchViewReader(DataSourceReader):
    def __init__(self, options):
        self.path = options.get("path")
        self.n_buckets = int(options.get("buckets", 8))
        segs = options.get("segments")
        self.segments = ([int(s) for s in str(segs).split(",")]
                         if segs not in (None, "") else None)
        # resolved once at plan time so every read task agrees
        m = _read_manifest(self.path)
        self.dims, self.files = m.dims, m.files(self.path, self.segments)

    def partitions(self):
        return [InputPartition(i) for i in range(self.n_buckets)]

    def read(self, partition):
        from itertools import repeat

        import numpy as np
        import pyarrow.parquet as pq

        from .sketches.base import merge_blob_runs
        bucket = partition.value
        mine: dict[tuple, bool] = {}  # bucket test, once per distinct key
        keys, blobs, rows = [], [], []
        for f in self.files:
            t = pq.read_table(f, columns=[*self.dims, "sketch", "rows"])
            cols = [t.column(d).to_pylist() for d in self.dims]
            for key, blob, n in zip(
                    zip(*cols) if cols else repeat((), t.num_rows),
                    t.column("sketch").to_pylist(),
                    t.column("rows").to_pylist()):
                ok = mine.get(key)
                if ok is None:
                    ok = mine[key] = _bucket(key, self.n_buckets) == bucket
                if ok:
                    keys.append(key)
                    blobs.append(blob)
                    rows.append(n)
        if not keys:
            return
        # stable sort: each group's rows stay in segment/file/row order
        reprs = [repr(k) for k in keys]
        order = sorted(range(len(keys)), key=reprs.__getitem__)
        starts = [j for j, i in enumerate(order)
                  if j == 0 or reprs[i] != reprs[order[j - 1]]]
        merged = merge_blob_runs([blobs[i] for i in order], starts)
        nrows = np.add.reduceat(np.asarray(rows, dtype=np.int64)[order],
                                starts)
        for s, blob, n in zip(starts, merged, nrows):
            yield (*keys[order[s]], _estimate(blob), int(n))
