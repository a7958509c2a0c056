"""Near-duplicate joins (sparksketch/dedup.py): hot-bucket splitting and
OR-amplified embedding LSH."""

import numpy as np
import pytest
from pyspark.sql import functions as F

pytestmark = pytest.mark.spark


class TestBucketBounding:
    def test_skewed_bucket_is_split(self, spark):
        from sparksketch.dedup import with_bucket_sub
        # 1000 rows in one pathological bucket, 20 elsewhere
        df = spark.range(0, 1020, 1, 4).select(
            F.col("id").alias("vid"),
            F.when(F.col("id") < 1000, F.lit(7)).otherwise(F.col("id"))
            .alias("bucket"))
        out = with_bucket_sub(df, ["bucket"], "vid", max_bucket_rows=100)
        sizes = (out.groupBy("bucket", "sub").count()
                 .agg(F.max("count")).first()[0])
        # expected ~100/sub; hash imbalance tolerated up to 2x the cap
        assert sizes <= 200
        n_subs = (out.filter(F.col("bucket") == 7)
                  .select("sub").distinct().count())
        assert n_subs == 10
        # pair count per (bucket, sub) is bounded ~ cap^2/2, vs 1000^2/2
        assert (out.filter(F.col("bucket") != 7)
                .select("sub").distinct().collect()[0][0] == 0)

    def test_none_keeps_exact_contract(self, spark):
        from sparksketch.dedup import with_bucket_sub
        df = spark.range(0, 50).select(F.col("id").alias("vid"),
                                       F.lit(1).alias("bucket"))
        out = with_bucket_sub(df, ["bucket"], "vid", None)
        assert out.select("sub").distinct().collect()[0][0] == 0

    def test_simhash_bounded_still_finds_exact_dups(self, spark):
        """Identical texts share ALL band keys, so even with bucket
        splitting they stay co-bucketed (same id-hash is impossible, but
        a pair lost in one band's split can collide in another band —
        for identical texts every band collides, and the split only
        separates a pair if the secondary hash differs in EVERY band's
        bucket, which the bands' shared (band,key) makes unlikely;
        assert the planted heavy dup group still yields pairs)."""
        from sparksketch.dedup import simhash_near_dups
        rows = [(i, "the same boilerplate text repeated") for i in range(60)]
        rows += [(100 + i, f"unique text number {i} payload") for i in range(20)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        pairs = simhash_near_dups(df, "doc_id", max_hamming=3,
                                  max_bucket_rows=25)
        got = pairs.count()
        assert got > 0  # bounded join still surfaces the dup cluster


class TestEmbeddingLSH:
    def _corpus(self, spark, n=120, dim=32, seed=7):
        rng = np.random.default_rng(seed)
        vecs = rng.standard_normal((n, dim))
        rows = [(i, [float(x) for x in vecs[i]]) for i in range(n)]
        return (spark.createDataFrame(rows,
                                      "vec_id bigint, embedding array<double>"),
                vecs)

    @staticmethod
    def _plant(vecs, i, j_seed, c):
        u = vecs[i] / np.linalg.norm(vecs[i])
        rng = np.random.default_rng(j_seed)
        z = rng.standard_normal(len(u))
        z -= (z @ u) * u
        z /= np.linalg.norm(z)
        return c * u + np.sqrt(1 - c * c) * z

    def test_threshold_adjacent_recall(self, spark):
        """Pairs at cosine 0.951-0.958 must ALL be found with 16 bands —
        the regime where a single band has only ~0.45 collision
        probability (round-4 VERDICT #4)."""
        from sparksketch.dedup import embedding_near_dups
        df, vecs = self._corpus(spark)
        planted = []
        targets = [0.951, 0.9525, 0.954, 0.9555, 0.957]
        for i, c in enumerate(targets):
            w = self._plant(vecs, i, 1000 + i, c)
            planted.append((1000 + i, [float(x) for x in w]))
        allv = df.unionByName(spark.createDataFrame(
            planted, "vec_id bigint, embedding array<double>"))
        got = embedding_near_dups(allv, threshold=0.95, n_planes=8,
                                  n_bands=16)
        pairs = {(r.id_a, r.id_b) for r in got.collect()}
        assert {(i, 1000 + i) for i in range(5)} <= pairs

    def test_single_band_misses_some(self, spark):
        """The round-4 defect, demonstrated: with ONE band the same
        fixture loses threshold-adjacent pairs (expected recall ~0.45 per
        pair; with 12 planted pairs, P[all found] < 0.01%%)."""
        from sparksketch.dedup import embedding_near_dups
        df, vecs = self._corpus(spark)
        planted = []
        for i in range(12):
            w = self._plant(vecs, i, 2000 + i, 0.952)
            planted.append((2000 + i, [float(x) for x in w]))
        allv = df.unionByName(spark.createDataFrame(
            planted, "vec_id bigint, embedding array<double>"))
        got = embedding_near_dups(allv, threshold=0.95, n_planes=8,
                                  n_bands=1)
        pairs = {(r.id_a, r.id_b) for r in got.collect()}
        missed = {(i, 2000 + i) for i in range(12)} - pairs
        assert missed  # single band demonstrably loses recall here

    def test_pair_scored_once(self, spark):
        """A pair colliding in many bands must appear once (dedup before
        the exact-cosine verify)."""
        from sparksketch.dedup import embedding_near_dups
        df, vecs = self._corpus(spark, n=30)
        dup = [(999, [float(x) for x in vecs[0] * 2.0])]
        allv = df.unionByName(spark.createDataFrame(
            dup, "vec_id bigint, embedding array<double>"))
        got = embedding_near_dups(allv, threshold=0.99, n_planes=8,
                                  n_bands=16).collect()
        assert [(r.id_a, r.id_b) for r in got] == [(0, 999)]
