"""Cross-validation against Spark's OWN approximate aggregates (SURVEY.md
§4: the engine's built-ins are independent oracles for our from-scratch
sketches) and coverage of the distributed tree-merge branch."""

import numpy as np
import pytest
from pyspark.sql import functions as F

pytestmark = pytest.mark.spark


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/events.parquet")


class TestAgainstSparkBuiltins:
    def test_hll_vs_approx_count_distinct(self, spark, events):
        from sparksketch.agg import HLLSpec, sketch_dataframe
        ours = sketch_dataframe(events, HLLSpec(p=14), ["user_id"]).estimate()
        spark_est = events.select(
            F.approx_count_distinct("user_id", 0.01)).first()[0]
        exact = events.select("user_id").distinct().count()
        assert abs(ours - exact) <= max(3 * 1.04 / np.sqrt(1 << 14) * exact, 2)
        # both estimators agree with exact within their mutual tolerance
        assert abs(ours - spark_est) <= 0.05 * exact + 3

    def test_cms_vs_exact_group_counts(self, spark, events):
        from sparksketch.agg import CMSSpec, sketch_dataframe
        sk = sketch_dataframe(events, CMSSpec(w=1 << 14, d=5),
                              ["event_type"])
        exact = {r.event_type: r.cnt for r in
                 events.groupBy("event_type")
                 .agg(F.count("*").alias("cnt")).collect()}
        pdf = (events.select("event_type").distinct()
               .select(F.col("event_type"),
                       F.xxhash64("event_type").alias("h1"))
               .toPandas())
        got = sk.query_hashes(pdf["h1"].to_numpy())
        for et, g in zip(pdf["event_type"], got):
            assert g == exact[et]  # exact regime: w >> distinct

    def test_kll_vs_percentile_approx(self, spark, events):
        from sparksketch.agg import KLLSpec, sketch_dataframe
        sk = sketch_dataframe(events, KLLSpec(k=200, col="value"),
                              ["event_id"])
        spark_qs = events.select(
            F.percentile_approx("value", [0.25, 0.5, 0.75], 10000)).first()[0]
        vals = np.array([r.value for r in events.select("value").collect()])
        for q, sq in zip((0.25, 0.5, 0.75), spark_qs):
            ours = sk.quantile(q)
            rank = float((vals <= ours).mean())
            assert abs(rank - q) <= 0.05
            rank_spark = float((vals <= sq).mean())
            assert abs(rank - rank_spark) <= 0.06


class TestMultiSketchInvariance:
    def test_multi_build_byte_identical_across_partitionings(self, spark,
                                                             events):
        """North-rule byte-identity extends to the one-pass multi-sketch
        builder: any partition count yields the same final blobs for every
        commutative kind in the pass."""
        from sparksketch.agg import (BloomSpec, CMSSpec, HLLSpec,
                                     build_partials_multi,
                                     tree_aggregate_multi)
        from sparksketch.shape import Shape
        specs = {
            "h": (HLLSpec(p=12), ["user_id"]),
            "b": (BloomSpec(Shape.from_np(2000, 1e-6)), ["user_id"]),
            "c": (CMSSpec(w=1 << 12, d=4), ["event_type"]),
        }
        blobs = []
        for parts in (2, 4, 8):
            df = events.repartition(parts)
            blobs.append(tree_aggregate_multi(
                build_partials_multi(df, specs), list(specs)))
        for n in specs:
            assert blobs[0][n] == blobs[1][n] == blobs[2][n]


class TestDistributedTreeRounds:
    def test_tree_rounds_match_driver_fold(self, spark, events):
        """Force the >collect_max branch (cluster-scale path): DataFrame
        tree rounds + small collect must be byte-identical to the plain
        driver fold."""
        from sparksketch.agg import (BloomSpec, build_partials,
                                     build_partials_multi, tree_aggregate,
                                     tree_aggregate_multi)
        from sparksketch.shape import Shape
        spec = BloomSpec(Shape.from_np(5000, 1e-6))
        df = events.repartition(16)
        direct = tree_aggregate(build_partials(df, spec, ["user_id"]))
        via_rounds = tree_aggregate(build_partials(df, spec, ["user_id"]),
                                    collect_max=4, fanout=4)
        assert direct == via_rounds

        specs = {"b": (spec, ["user_id"])}
        d2 = tree_aggregate_multi(build_partials_multi(df, specs), ["b"])
        r2 = tree_aggregate_multi(build_partials_multi(df, specs), ["b"],
                                  collect_max=4, fanout=4)
        assert d2["b"] == r2["b"]

    def test_multi_level_rounds_all_kinds(self, spark, events):
        """TWO tree levels (16 partials -> 8 -> 4 at fanout 2) — the shape
        a 10k-partition cluster run takes: byte-identical to the flat
        driver fold for the bitwise-commutative kinds, and
        estimate-equivalent (within bound) for the compacting KLL whose
        byte layout legitimately depends on merge tree shape."""
        from sparksketch.agg import (BloomSpec, HLLSpec, KLLSpec,
                                     build_partials, tree_aggregate)
        from sparksketch.shape import Shape
        from sparksketch.sketches import sketch_from_bytes
        df = events.repartition(16)
        for spec in (BloomSpec(Shape.from_np(5000, 1e-6)), HLLSpec(p=12)):
            direct = tree_aggregate(build_partials(df, spec, ["user_id"]))
            rounds = tree_aggregate(build_partials(df, spec, ["user_id"]),
                                    collect_max=4, fanout=2)
            assert direct == rounds, type(spec).__name__
        kspec = KLLSpec(k=128, col="value")
        flat = sketch_from_bytes(tree_aggregate(
            build_partials(df, kspec, ["event_id"])))
        tree = sketch_from_bytes(tree_aggregate(
            build_partials(df, kspec, ["event_id"]),
            collect_max=4, fanout=2))
        assert flat.n == tree.n
        for q in (0.1, 0.5, 0.9):
            # both within the sketch's eps-rank bound of each other
            assert abs(flat.rank(tree.quantile(q)) - q) <= 2 * 5.0 / 128

    def test_driver_collect_budgeted_by_blob_size(self, spark, events,
                                                  monkeypatch):
        """A per-partial size hint must cap the driver collect by BYTES:
        with a tiny budget the merge goes through executor tree rounds
        and still produces identical bytes."""
        import sparksketch.agg as agg
        from sparksketch.agg import (BloomSpec, build_partials,
                                     tree_aggregate)
        from sparksketch.shape import Shape
        spec = BloomSpec(Shape.from_np(5000, 1e-6))
        assert spec.est_bytes() > 1000  # dense bitmap, real size
        df = events.repartition(16)
        direct = tree_aggregate(build_partials(df, spec, ["user_id"]))
        monkeypatch.setattr(agg, "DRIVER_COLLECT_BUDGET",
                            8 * spec.est_bytes())
        budgeted = tree_aggregate(build_partials(df, spec, ["user_id"]),
                                  blob_bytes=spec.est_bytes(), fanout=4)
        assert budgeted == direct
        assert agg._budgeted_collect_max(1024, spec.est_bytes()) == 8
