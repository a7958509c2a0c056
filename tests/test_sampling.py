"""Round-4 additions: exact Bloom anti-join (blocklist exclusion) and the
deterministic sampling operators (hash-threshold / weighted mixture /
per-group reservoir) — partition-layout invariance is the core contract."""

import pytest
from pyspark.sql import functions as F

from sparksketch.agg import bloom_anti_join
from sparksketch.sampling import (hash_threshold_sample, per_group_sample,
                                  rate_threshold, weighted_mixture_sample)
from sparksketch.transcripts import transcripts_from_events

pytestmark = pytest.mark.spark


class TestBloomAntiJoin:
    def test_exact_under_forced_false_positives(self, spark, sf_dir):
        """fpp=0.5 floods the filter with false 'maybe's; the left_anti
        cleanup must still make the result EXACT."""
        customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
        blocked = (spark.read.parquet(f"{sf_dir}/orders.parquet")
                   .filter(F.col("o_orderstatus") == "F"))
        got = sorted(r.c_custkey for r in
                     bloom_anti_join(customer, ["c_custkey"], blocked,
                                     ["o_custkey"], fpp=0.5)
                     .select("c_custkey").collect())
        want = sorted(r.c_custkey for r in
                      customer.join(blocked.select(F.col("o_custkey")
                                                   .alias("c_custkey"))
                                    .distinct(),
                                    "c_custkey", "left_anti").collect())
        assert got == want and len(want) > 0

    def test_empty_build_side_passes_everything(self, spark, sf_dir):
        customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
        none = customer.filter(F.lit(False))
        got = bloom_anti_join(customer, ["c_custkey"], none, ["c_custkey"])
        assert got.count() == customer.count()


class TestHashThresholdSample:
    def test_rate_threshold_grid(self):
        assert rate_threshold(0.25) == "40000000"
        assert rate_threshold(0.0625) == "10000000"
        assert rate_threshold(0.0) == "00000000"
        assert rate_threshold(1.0) == "gggggggg"  # keeps every md5 prefix
        with pytest.raises(ValueError):
            rate_threshold(1.5)

    def test_partition_layout_invariant_and_rate_close(self, spark, sf_dir):
        tr = transcripts_from_events(spark, sf_dir)
        keys = ["conv_id", "turn_idx"]
        a = set((r.conv_id, r.turn_idx) for r in
                hash_threshold_sample(tr.repartition(2), keys, 0.25, "s")
                .select(*keys).collect())
        b = set((r.conv_id, r.turn_idx) for r in
                hash_threshold_sample(tr.repartition(13), keys, 0.25, "s")
                .select(*keys).collect())
        assert a == b
        n = tr.count()
        # binomial 5-sigma band around 0.25
        assert abs(len(a) / n - 0.25) < 5 * (0.25 * 0.75 / n) ** 0.5

    def test_rate_one_keeps_all_rate_zero_none(self, spark, sf_dir):
        tr = transcripts_from_events(spark, sf_dir)
        n = tr.count()
        assert hash_threshold_sample(tr, ["conv_id"], 1.0).count() == n
        assert hash_threshold_sample(tr, ["conv_id"], 0.0).count() == 0


class TestWeightedMixture:
    def test_per_source_rates_and_determinism(self, spark, sf_dir):
        tr = transcripts_from_events(spark, sf_dir).cache()
        rates = {"user": 0.5, "assistant": 0.125}
        out = weighted_mixture_sample(tr, "role", rates,
                                      ["conv_id", "turn_idx"], salt="m")
        got = {r.role: r.cnt for r in
               out.groupBy("role").agg(F.count("*").alias("cnt")).collect()}
        # absent sources use default_rate=0.0 -> never sampled
        assert set(got) <= {"user", "assistant"}
        totals = {r.role: r.cnt for r in
                  tr.groupBy("role").agg(F.count("*").alias("cnt")).collect()}
        for role, rate in rates.items():
            n = totals[role]
            assert abs(got.get(role, 0) / n - rate) \
                < 5 * (rate * (1 - rate) / n) ** 0.5
        # rerun == same selection
        again = weighted_mixture_sample(tr, "role", rates,
                                        ["conv_id", "turn_idx"], salt="m")
        assert sorted(map(tuple, out.collect())) \
            == sorted(map(tuple, again.collect()))


class TestPerGroupSample:
    def test_exactly_k_and_layout_invariant(self, spark, sf_dir):
        tr = transcripts_from_events(spark, sf_dir)
        a = per_group_sample(tr.repartition(3), ["conv_id"], ["turn_idx"],
                             k=2, salt="r").select("conv_id", "turn_idx")
        b = per_group_sample(tr.repartition(11), ["conv_id"], ["turn_idx"],
                             k=2, salt="r").select("conv_id", "turn_idx")
        sa = sorted(map(tuple, a.collect()))
        assert sa == sorted(map(tuple, b.collect()))
        sizes = {r.conv_id: r.cnt for r in
                 a.groupBy("conv_id").agg(F.count("*").alias("cnt"))
                 .collect()}
        group_n = {r.conv_id: r.cnt for r in
                   tr.groupBy("conv_id").agg(F.count("*").alias("cnt"))
                   .collect()}
        assert set(sizes) == set(group_n)
        for cid, cnt in sizes.items():
            assert cnt == min(2, group_n[cid])

    def test_prefilter_preserves_selection_when_survivors_cover_k(
            self, spark, sf_dir):
        """A prefilter whose expected survivors >> k for every group must
        select the IDENTICAL sample — the map-side reduction is free at
        scale.  Groups of 250 at rate 0.1 -> E[survivors]=25 per group;
        the data and digest are fixed, so the outcome is deterministic."""
        df = (spark.range(1000)
              .select((F.col("id") % 4).cast("string").alias("g"),
                      F.col("id").alias("k")))
        full = per_group_sample(df, ["g"], ["k"], k=2, salt="p") \
            .select("g", "k")
        pre = per_group_sample(df, ["g"], ["k"], k=2, salt="p",
                               prefilter_rate=0.1).select("g", "k")
        assert sorted(map(tuple, full.collect())) \
            == sorted(map(tuple, pre.collect()))


class TestSampleHashFraming:
    def _hashes(self, spark, rows, cols, schema):
        from sparksketch.sampling import sample_hash
        df = spark.createDataFrame(rows, schema)
        return [r.h for r in
                df.select(sample_hash(cols, "s").alias("h")).collect()]

    def test_null_distinct_from_missing(self, spark):
        """('a', NULL) must hash differently from ('a',) — concat_ws
        skipped NULLs and made them collide."""
        from sparksketch.sampling import sample_hash
        df = spark.createDataFrame([("a", None)], "x string, y string")
        one = df.select(sample_hash(["x"], "s").alias("h")).first().h
        two = df.select(sample_hash(["x", "y"], "s").alias("h")).first().h
        assert one != two

    def test_delimiter_injection_distinct(self, spark):
        """('a:b',) vs ('a','b') and ('a','b:c') vs ('a:b','c') must all
        differ — the old ':' join made them collide."""
        h1 = self._hashes(spark, [("a:b",)], ["x"], "x string")[0]
        h2 = self._hashes(spark, [("a", "b")], ["x", "y"],
                          "x string, y string")[0]
        h3 = self._hashes(spark, [("a", "b:c")], ["x", "y"],
                          "x string, y string")[0]
        h4 = self._hashes(spark, [("a:b", "c")], ["x", "y"],
                          "x string, y string")[0]
        assert len({h1, h2, h3, h4}) == 4

    def test_framing_prefix_ambiguity(self, spark):
        """Length-framing must keep ('1#a', 'b') and ('1', '#ab')-style
        reassemblies apart (prefix-free property)."""
        h1 = self._hashes(spark, [("1#a", "b")], ["x", "y"],
                          "x string, y string")[0]
        h2 = self._hashes(spark, [("1", "#ab")], ["x", "y"],
                          "x string, y string")[0]
        assert h1 != h2

    def test_sql_rendering_matches_spark(self, spark):
        """sample_hash_sql through DuckDB == sample_hash through Spark,
        including NULL and ':'-bearing values."""
        import duckdb
        from sparksketch.sampling import sample_hash, sample_hash_sql
        rows = [("a", "b"), ("a:b", None), (None, None), ("", "x")]
        df = spark.createDataFrame(rows, "x string, y string")
        got = sorted(r.h for r in df.select(
            sample_hash(["x", "y"], "salt").alias("h")).collect())
        con = duckdb.connect()
        con.sql("CREATE TABLE t (x VARCHAR, y VARCHAR)")
        con.executemany("INSERT INTO t VALUES (?, ?)", rows)
        want = sorted(r[0] for r in con.sql(
            "SELECT " + sample_hash_sql(["x", "y"], "salt")
            + " FROM t").fetchall())
        assert got == want
