"""Table IO seam: one place where storage format is chosen.

The sandbox has no Iceberg catalog, so the default source is parquet paths
(same columnar, partition-pruned, predicate-pushdown semantics).  In
production the swap is this module only:

    read_table(spark, "catalog.db.transcripts", fmt="iceberg")

and every operator above it — sketch builds, dedup, streaming state —
works unchanged because they only consume DataFrames.  Writes are not
behind this seam: streaming state uses Spark's ``DataFrameWriter``, and
a view's fold tasks and a checkpoint's build tasks write their own files
with :func:`write_part`, which the view's or checkpoint's manifest then
lists.
"""

from __future__ import annotations

import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyarrow import fs as pafs
from pyspark.sql import DataFrame, SparkSession

# the row a task emits for each file it wrote: see write_part
WRITTEN_SCHEMA = "file string, rows long, bucket int"


def read_table(spark: SparkSession, source: str,
               fmt: str = "parquet") -> DataFrame:
    """Load a table from a path (parquet/…) or a catalog name (iceberg)."""
    if fmt == "parquet":
        return spark.read.parquet(source)
    if fmt == "iceberg":
        # catalog table name, e.g. "my_catalog.db.transcripts"
        return spark.read.format("iceberg").load(source)
    return spark.read.format(fmt).load(source)


def write_text_atomic(path: str, text: str) -> None:
    """Write a small local file (a manifest or pointer) as one commit:
    write a temp file beside ``path``, sync it, and rename it over
    ``path``.  A failed write leaves the previous file whole."""
    tmp = f"{path}.tmp-{uuid.uuid4().hex}"
    try:
        with open(tmp, "w") as f:
            f.write(text)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)  # atomic on POSIX
    except BaseException:
        if os.path.exists(tmp):
            os.unlink(tmp)
        raise


def fs_path(path: str) -> tuple[pafs.FileSystem, str]:
    """The pyarrow filesystem and in-filesystem path of ``path``: a URI
    (``hdfs://``, ``s3://``, ...) or a local path, made absolute."""
    try:
        return pafs.FileSystem.from_uri(path)
    except pa.ArrowInvalid:  # a local path without a scheme
        return pafs.LocalFileSystem(), os.path.abspath(path)


def write_part(table: pa.Table, target: tuple[pafs.FileSystem, str],
               bucket: int) -> pa.RecordBatch:
    """Write ``table`` as one new parquet file in the directory ``target``
    (an :func:`fs_path` pair) and return the one :data:`WRITTEN_SCHEMA`
    row that names it: ``(file, rows, bucket)``.  The name,
    ``part-<bucket>-<uuid>.parquet``, is new for every call: a retried or
    speculative task attempt never overwrites another attempt's file."""
    fs, d = target
    fs.create_dir(d, recursive=True)
    name = f"part-{bucket:05d}-{uuid.uuid4().hex}.parquet"
    pq.write_table(table, f"{d}/{name}", filesystem=fs)
    return pa.RecordBatch.from_arrays(
        [pa.array([name]), pa.array([table.num_rows], pa.int64()),
         pa.array([bucket], pa.int32())], names=["file", "rows", "bucket"])
