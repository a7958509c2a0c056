"""Table IO seam: one place where storage format is chosen.

The sandbox has no Iceberg catalog, so the default source is parquet paths
(same columnar, partition-pruned, predicate-pushdown semantics).  In
production the swap is this module only:

    read_table(spark, "catalog.db.transcripts", fmt="iceberg")

and every operator above it — sketch builds, dedup, streaming state —
works unchanged because they only consume DataFrames.  Writes go through
``write_table`` so the checkpoint/state tables get the same one-line swap
(Iceberg/Delta additionally give those writes transactional commit).
"""

from __future__ import annotations

import os
import uuid

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyarrow import fs as pafs
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def read_table(spark: SparkSession, source: str,
               fmt: str = "parquet") -> DataFrame:
    """Load a table from a path (parquet/…) or a catalog name (iceberg)."""
    if fmt == "parquet":
        return spark.read.parquet(source)
    if fmt == "iceberg":
        # catalog table name, e.g. "my_catalog.db.transcripts"
        return spark.read.format("iceberg").load(source)
    return spark.read.format(fmt).load(source)


def write_table(df: DataFrame, target: str, fmt: str = "parquet",
                mode: str = "overwrite") -> None:
    if fmt == "parquet":
        df.write.mode(mode).parquet(target)
    else:
        df.write.format(fmt).mode(mode).save(target)


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


def arrow_rows(pdf: pd.DataFrame, schema: StructType,
               timezone: str) -> pa.Table:
    """``pdf`` as an Arrow table of the Spark ``schema``'s Arrow types,
    converted as ``mapInPandas`` converts its output (session ``timezone``
    for timestamps), so Spark reads a file of it back with ``schema``."""
    from pyspark.sql.pandas.types import (_create_converter_from_pandas,
                                          to_arrow_schema)
    arrow = to_arrow_schema(schema)
    cols = [pa.Array.from_pandas(
        _create_converter_from_pandas(f.dataType, timezone=timezone)(
            pdf[f.name]), type=af.type, safe=False)
        for f, af in zip(schema.fields, arrow)]
    return pa.Table.from_arrays(cols, schema=arrow)


def write_part(table: pa.Table, target: tuple[pafs.FileSystem, str],
               partition: int) -> str:
    """Write ``table`` as one new parquet file in the directory ``target``
    (an :func:`fs_path` pair) and return the file's name.  The name,
    ``part-<partition>-<uuid>.parquet``, is new for every call: a retried
    or speculative task attempt never overwrites another attempt's file."""
    fs, d = target
    fs.create_dir(d, recursive=True)
    name = f"part-{partition:05d}-{uuid.uuid4().hex}.parquet"
    pq.write_table(table, f"{d}/{name}", filesystem=fs)
    return name


def read_stream(spark: SparkSession, source: str, schema,
                fmt: str = "parquet", **options):
    """Streaming source with the same seam (file stream in the sandbox;
    format('iceberg')/format('kafka') in production)."""
    reader = spark.readStream.schema(schema)
    for k, v in options.items():
        reader = reader.option(k, v)
    if fmt == "parquet":
        return reader.parquet(source)
    return reader.format(fmt).load(source)
