"""Sketch-driven balanced range partitioning — the write-side layout
tool a 100 TB pipeline needs for skew-free sorted output.

``repartitionByRange`` samples the data every run (nondeterministic
boundaries, a fresh pass per write).  Here the boundaries come from a
mergeable KLL sketch instead: one build pass (or ZERO — reuse a sketch
row from a checkpoint or a materialized view, since KLL rows merge),
boundaries reproducible for a fixed input layout (canonical sorted-pid
folding; across layouts they move only within the sketch's published
rank-error bound), and a pure-JVM bucket assignment (no UDF in the hot
path).

    bounds = quantile_bounds(df, "l_extendedprice", 64)
    df.withColumn("bucket", range_bucket("l_extendedprice", bounds))
      .repartition(64, "bucket")          # or write partitionBy(bucket)

Every bucket then holds ~n/64 rows within KLL error regardless of the
value distribution's skew.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, functions as F

from .agg import KLLSpec, sketch_dataframe
from .sketches import sketch_from_bytes


def quantile_bounds(df: DataFrame, col: str, n_buckets: int,
                    k: int = 400) -> list[float]:
    """Interior bucket boundaries (up to ``n_buckets - 1`` ascending
    values) of ``col`` from a one-pass distributed KLL build: boundary
    i is the i/n quantile, so buckets are equal-count within the
    sketch's published rank error (~1/k of the rank space per
    boundary)."""
    if n_buckets < 2:
        raise ValueError("n_buckets must be >= 2")
    sk = sketch_dataframe(df, KLLSpec(k=k, col=col), [col])
    return bounds_from_sketch(sk, n_buckets)


def bounds_from_sketch(sk, n_buckets: int) -> list[float]:
    """Boundaries from an existing KLL sketch (object or serialized
    blob) — e.g. a sketch row out of a checkpoint, a grouped build, or
    a materialized sketch view (view.py): the ZERO-scan path when a
    rollup already maintains the value sketch."""
    if isinstance(sk, (bytes, bytearray)):
        sk = sketch_from_bytes(bytes(sk))
    bounds = [float(sk.quantile(i / n_buckets))
              for i in range(1, n_buckets)]
    # strictly increasing: collapse duplicates (heavy single values can
    # repeat a quantile; a duplicate boundary would create dead buckets)
    out = []
    for b in bounds:
        if not out or b > out[-1]:
            out.append(b)
    return out


def range_bucket(col: str | Column, bounds: Sequence[float]) -> Column:
    """Bucket index (0..len(bounds)) for each row — a pure-JVM
    higher-order expression (count of boundaries <= value via a
    literal-array filter): a plain Project over the pruned scan, no
    Python eval, no UDF, no shuffle.  NULL values compare NULL against
    every boundary and land in bucket 0."""
    c = F.col(col) if isinstance(col, str) else col
    arr = F.array(*[F.lit(float(b)) for b in bounds])
    return F.size(F.filter(arr, lambda b: c >= b))


def repartition_balanced(df: DataFrame, col: str, n_buckets: int,
                         k: int = 400,
                         bucket_col: str = "_range_bucket") -> DataFrame:
    """One-call skew-free range layout: compute sketch boundaries, tag
    each row with its bucket, and hash-repartition on the bucket tag.
    Rows of equal range land together and every partition carries
    ~rows/n_buckets regardless of skew; drop ``bucket_col`` after the
    write if it is not wanted in the output."""
    bounds = quantile_bounds(df, col, n_buckets, k=k)
    return (df.withColumn(bucket_col, range_bucket(col, bounds))
            .repartition(n_buckets, bucket_col))
