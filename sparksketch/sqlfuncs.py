"""SQL scalar surface: the sketch operations registered as Spark SQL
functions, so sketch-row tables (the ``[keys..., sketch, rows]`` frames
every aggregation here produces) are queryable from PURE SQL::

    register_sql_functions(spark)
    per_conv.createOrReplaceTempView("conv_sketches")
    spark.sql("SELECT conv_id, round(sketch_estimate(sketch)) FROM
               conv_sketches")

All functions are Arrow-batched pandas UDFs over KB-scale sketch blobs
(sketch ROWS, never data rows — at 100 TB these run over the O(groups)
aggregation output).  Membership/count probes take the same JVM
``xxhash64`` hash the DataFrame API uses: hash SQL-side with
``xxhash64(item)``; the secondary EDH hash is derived worker-side
(hashing.derive_h2), so only one hash crosses per probe.

Per-batch decode is deduplicated by blob identity, so probing many rows
against few distinct sketches decodes each sketch once per batch.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession, functions as F

from .agg import _estimate
from .sketches import merge_bytes, sketch_from_bytes

__all__ = ["register_sql_functions"]


def _per_blob_groups(blobs: pd.Series):
    """Yield (decoded sketch, row positions) per distinct blob in the
    batch — one decode per distinct sketch, vectorized probe per group."""
    by_blob: dict[bytes, list[int]] = {}
    for i, b in enumerate(blobs):
        by_blob.setdefault(bytes(b), []).append(i)
    for blob, idxs in by_blob.items():
        yield sketch_from_bytes(blob), np.asarray(idxs)


def register_sql_functions(spark: SparkSession) -> list[str]:
    """Register the sketch scalar surface; returns the function names."""

    @F.pandas_udf("double")
    def sketch_estimate(blobs: pd.Series) -> pd.Series:
        est = {b: _estimate(b) for b in set(map(bytes, blobs))}
        return pd.Series([est[bytes(b)] for b in blobs], dtype="float64")

    @F.pandas_udf("double")
    def sketch_quantile(blobs: pd.Series, qs: pd.Series) -> pd.Series:
        out = np.empty(len(blobs), dtype=np.float64)
        qv = qs.to_numpy(dtype=np.float64)
        for sk, idxs in _per_blob_groups(blobs):
            # batch all of this sketch's q's through quantiles(): one
            # retained-items sort per sketch per batch, not one per row
            res = sk.quantiles([float(qv[i]) for i in idxs])
            out[idxs] = res
        return pd.Series(out)

    @F.pandas_udf("boolean")
    def sketch_contains(blobs: pd.Series, h1: pd.Series) -> pd.Series:
        out = np.zeros(len(blobs), dtype=bool)
        h1n = h1.to_numpy()
        for sk, idxs in _per_blob_groups(blobs):
            out[idxs] = sk.contains_hashes(h1n[idxs])
        return pd.Series(out)

    @F.pandas_udf("long")
    def sketch_cms_count(blobs: pd.Series, h1: pd.Series) -> pd.Series:
        out = np.zeros(len(blobs), dtype=np.int64)
        h1n = h1.to_numpy()
        for sk, idxs in _per_blob_groups(blobs):
            out[idxs] = sk.query_hashes(h1n[idxs])
        return pd.Series(out)

    @F.pandas_udf("binary")
    def sketch_merge(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series([
            merge_bytes(bytes(x) if x is not None else None,
                        bytes(y) if y is not None else None)
            for x, y in zip(a, b)])

    fns = {
        "sketch_estimate": sketch_estimate,
        "sketch_quantile": sketch_quantile,
        "sketch_contains": sketch_contains,
        "sketch_cms_count": sketch_cms_count,
        "sketch_merge": sketch_merge,
    }
    for name, fn in fns.items():
        spark.udf.register(name, fn)
    return list(fns)
