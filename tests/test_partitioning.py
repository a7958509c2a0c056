"""Sketch-driven balanced range partitioning (partitioning.py): bucket
balance on skewed data within the KLL rank-error bound, JVM-only bucket
assignment, determinism, and the zero-scan path from a materialized
sketch blob.
"""
import numpy as np
import pytest
from pyspark.sql import functions as F

from sparksketch.partitioning import (bounds_from_sketch, quantile_bounds,
                                      range_bucket, repartition_balanced)


@pytest.fixture(scope="module")
def skewed(spark):
    # heavy-tailed values: squared uniform hash -> strong low-end skew
    n = 40_000
    return (spark.range(n)
            .withColumn("v", (F.pow(F.rand(seed=7), 4.0) * 1000.0))
            .select("id", "v"))


class TestRangePartitioning:
    def test_buckets_balanced_on_skew(self, spark, skewed):
        n_b = 16
        bounds = quantile_bounds(skewed, "v", n_b, k=400)
        assert bounds == sorted(bounds)
        counts = (skewed.withColumn("b", range_bucket("v", bounds))
                  .groupBy("b").count().collect())
        n = skewed.count()
        got = {r["b"]: r["count"] for r in counts}
        assert set(got) == set(range(n_b))
        # each bucket within 3x the KLL normalized rank error of n/n_b
        tol = 3 * (1.77 / 400) * n + 2  # eps ~ 1.77/k per boundary
        for b, c in got.items():
            assert abs(c - n / n_b) <= tol, (b, c, n / n_b, tol)

    def test_assignment_matches_sql_semantics(self, spark, skewed):
        """bucket = count of boundaries <= value, verified against the
        equivalent SQL expression on a sample."""
        bounds = quantile_bounds(skewed, "v", 8, k=400)
        rows = (skewed.limit(500)
                .withColumn("b", range_bucket("v", bounds)).collect())
        for r in rows:
            assert r["b"] == sum(1 for bd in bounds if r["v"] >= bd)

    def test_deterministic_rebuild_and_layout_tolerance(self, spark,
                                                        skewed):
        # identical layout -> identical bounds (canonical sorted-pid
        # folding makes the compacting KLL reproducible)
        b1 = quantile_bounds(skewed.repartition(5, "id"), "v", 8)
        b2 = quantile_bounds(skewed.repartition(5, "id"), "v", 8)
        assert b1 == b2
        # a different layout compacts differently (KLL is a sampling
        # sketch), but every boundary stays within the rank-error bound
        # of the same true quantile
        b3 = quantile_bounds(skewed.repartition(11, "id"), "v", 8)
        n = skewed.count()
        vals = np.sort(np.array(skewed.select("v").toPandas()["v"]))
        for q1, q3 in zip(b1, b3):
            r1 = np.searchsorted(vals, q1) / n
            r3 = np.searchsorted(vals, q3) / n
            assert abs(r1 - r3) <= 2 * 2 * 1.77 / 400

    def test_zero_scan_path_from_blob(self, spark, skewed):
        from sparksketch.agg import KLLSpec, sketch_dataframe
        sk = sketch_dataframe(skewed, KLLSpec(k=400, col="v"), ["v"])
        assert bounds_from_sketch(sk, 8) == \
            bounds_from_sketch(sk.to_bytes(), 8)

    def test_repartition_balanced_partition_sizes(self, spark, skewed):
        out = repartition_balanced(skewed, "v", 8)
        sizes = (out.withColumn("p", F.spark_partition_id())
                 .groupBy("p").count().collect())
        n = skewed.count()
        # hash-repartition on 8 bucket tags into 8 partitions: no
        # partition should exceed ~3 buckets' worth even with hash
        # collisions; the balance claim is per BUCKET (tested above),
        # this checks the end-to-end call produces multiple non-empty
        # partitions with no catastrophic pileup
        assert len(sizes) >= 4
        assert max(r["count"] for r in sizes) <= 0.55 * n

    def test_duplicate_heavy_value_collapses_boundaries(self, spark):
        df = (spark.range(10_000)
              .withColumn("v", F.when(F.col("id") % 10 < 9, 5.0)
                          .otherwise(F.col("id").cast("double"))))
        bounds = quantile_bounds(df, "v", 8)
        assert bounds == sorted(set(bounds))  # strictly increasing
        assert len(bounds) <= 7
