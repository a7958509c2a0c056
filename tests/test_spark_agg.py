"""Distributed aggregation tests (local Spark): associativity across
partition counts and row orders, salted == unsalted, grouped sketches,
bloom semi-join, stable ordered replay (SURVEY.md §5 test plan)."""

import hashlib
import os
import subprocess
import sys

import numpy as np
import pytest
from pyspark.sql import functions as F

from sparksketch.agg import (BloomSpec, BottomKSpec, CMSSpec, CountingBloomSpec,
                             HLLSpec, KLLSpec, LayeredBloomSpec, MinHashSpec,
                             MixKeyBloomSpec, TDigestSpec, bloom_semijoin,
                             build_partials, cms_lookup, grouped_sketch,
                             sketch_dataframe, stable_build, tree_aggregate,
                             with_might_contain)
from sparksketch.shape import Shape, StableShape
from sparksketch.sketches import sketch_from_bytes
from sparksketch.transcripts import transcripts_from_events

pytestmark = pytest.mark.spark


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/events.parquet").cache()


@pytest.fixture(scope="module")
def lineitem(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/lineitem.parquet").cache()


class TestAssociativity:
    """north_rule: byte-identical merged sketch across partition counts
    {2,4,8} and shuffled row orders, salted == unsalted."""

    @pytest.mark.parametrize("spec_fn", [
        lambda: BloomSpec(Shape.from_np(10_000, 1e-6)),
        lambda: CountingBloomSpec(Shape.from_np(10_000, 1e-4)),
        lambda: HLLSpec(p=12),
        lambda: CMSSpec(w=1 << 12, d=4),
        lambda: BottomKSpec(k=256),
        lambda: MinHashSpec(n_perm=64),
    ])
    def test_byte_identical_across_partitionings(self, events, spec_fn):
        spec = spec_fn()
        blobs = []
        for nparts in (2, 4, 8):
            part = events.repartition(nparts)
            blobs.append(tree_aggregate(build_partials(part, spec, ["user_id"])))
        # shuffled row order
        shuffled = events.orderBy(F.xxhash64(F.lit(99), "event_id")).repartition(4)
        blobs.append(tree_aggregate(build_partials(shuffled, spec, ["user_id"])))
        assert all(b == blobs[0] for b in blobs[1:])

    def test_layered_byte_identical(self, events):
        spec = LayeredBloomSpec(Shape.from_np(10_000, 1e-6), layer_col="layer")
        with_layer = events.withColumn(
            "layer", (F.unix_timestamp("ts") / 86400).cast("long"))
        blobs = [
            tree_aggregate(build_partials(with_layer.repartition(n), spec,
                                          ["event_id"]))
            for n in (2, 8)
        ]
        assert blobs[0] == blobs[1]

    def test_kll_tdigest_canonical_deterministic(self, events):
        for spec in (KLLSpec(k=200, col="value"),
                     TDigestSpec(compression=100, col="value")):
            part = events.repartition(4, "event_id")
            b1 = tree_aggregate(build_partials(part, spec, ["event_id"]))
            b2 = tree_aggregate(build_partials(part, spec, ["event_id"]))
            assert b1 == b2

    # sha256 of sketch_dataframe's bytes for every spec kind over the
    # sf0.001 events, hash-partitioned 4 ways on event_id and sorted within
    # partitions.  The digests pin the wire bytes across code versions: a
    # build or merge refactor that changes any kind's bytes fails here.
    @pytest.mark.parametrize("spec,cols,digest", [
        pytest.param(BloomSpec(Shape.from_np(10_000, 1e-6)), ["user_id"],
                     "5facfee0b43383c6fd2945ad2c67cfaf14eb7f9e715f3fa5048461f6d7be4170",
                     id="bloom"),
        pytest.param(MixKeyBloomSpec(Shape.from_np(10_000, 1e-6)),
                     ["user_id", "event_type"],
                     "c3601caa6d4d962693995110caedf3c703e3ef320426f40b96559d7abb121d8e",
                     id="mixkey_bloom"),
        pytest.param(CountingBloomSpec(Shape.from_np(10_000, 1e-4)),
                     ["user_id"],
                     "32851ee53d838deb3eea6887b464219c772b1efc92700a0f07be7c5e0ce2ba79",
                     id="counting_bloom"),
        pytest.param(HLLSpec(p=12), ["user_id"],
                     "ffdd95f57768e4325ab60ab07f8bb4c23f287d2e8abfdb36cbbc8a139219367c",
                     id="hll"),
        pytest.param(CMSSpec(w=1 << 12, d=4), ["event_type"],
                     "7f1fe5e4616dd161e53c52024866faf225492d2ef61d28919342c5cc7ae214f2",
                     id="cms"),
        pytest.param(KLLSpec(k=64, col="value"), ["event_id"],
                     "0967d3c56f8da3ff2a1ea20fdd1ea8b9759d8288618d051a5878326341448921",
                     id="kll"),
        pytest.param(TDigestSpec(compression=50, col="value"), ["event_id"],
                     "25e1f75afb149b170300d9670a00c7866ddf0e536ff0f33309a65161eb9a378d",
                     id="tdigest"),
        pytest.param(BottomKSpec(k=256), ["user_id"],
                     "d675217afd17b0c5e9dbb2e82d917f78bbc064239543be54928dffe012f6d69e",
                     id="bottomk"),
        pytest.param(MinHashSpec(n_perm=64), ["user_id"],
                     "3f3b8f22db397f6c0c5245a1cdb1842f699a9f37980a5a51624d515f223d7b6c",
                     id="minhash"),
        pytest.param(LayeredBloomSpec(Shape.from_np(10_000, 1e-6),
                                      layer_col="layer"), ["event_id"],
                     "5dbff057e11f04942dcc4967545ea45af53b20f0b2e51503351c00720893a750",
                     id="layered_bloom"),
    ])
    def test_golden_bytes(self, events, sf_dir, spec, cols, digest):
        if os.path.basename(os.path.normpath(sf_dir)) != "sf0.001":
            pytest.skip("golden digests are recorded for sf0.001")
        df = (events.withColumn(
                  "layer", (F.unix_timestamp("ts") / 86400).cast("long"))
              .repartition(4, "event_id").sortWithinPartitions("event_id"))
        blob = sketch_dataframe(df, spec, cols).to_bytes()
        assert hashlib.sha256(blob).hexdigest() == digest


class TestPhysicalPlans:
    def test_explain_plans_checks_pass(self, sf_dir):
        """tools/explain_plans.py asserts the scale-critical plan shapes:
        no Exchange before the partial build, one scan for a multi-sketch
        build, only sketch rows shuffled by the segmented grouped build."""
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        proc = subprocess.run(
            [sys.executable, os.path.join(repo, "tools", "explain_plans.py"),
             sf_dir], capture_output=True, text=True, timeout=600)
        assert proc.returncode == 0, proc.stdout[-4000:] + proc.stderr[-4000:]
        assert "ALL PLAN CHECKS PASSED" in proc.stdout


class TestEstimates:
    def test_bloom_exact_regime_membership(self, events, spark, sf_dir):
        spec = BloomSpec(Shape.from_np(100_000, 1e-9))
        sk = sketch_dataframe(events, spec, ["user_id"])
        exact = events.select("user_id").distinct().count()
        assert round(sk.estimate_n()) == exact
        flagged = with_might_contain(events.select("user_id").distinct(),
                                     sk.to_bytes(), ["user_id"])
        assert flagged.filter("might_contain").count() == exact

    def test_hll_within_bound(self, events):
        sk = sketch_dataframe(events, HLLSpec(p=14), ["event_id"])
        exact = events.select("event_id").distinct().count()
        assert abs(sk.estimate() - exact) / exact <= 3 * sk.rel_std_error()

    def test_cms_exact_regime_counts(self, events):
        sk = sketch_dataframe(events, CMSSpec(w=1 << 16, d=5), ["event_type"])
        exact = {r.event_type: r.cnt for r in
                 events.groupBy("event_type").agg(F.count("*").alias("cnt")).collect()}
        probed = cms_lookup(
            events.select("event_type").distinct(), sk.to_bytes(), ["event_type"])
        got = {r.event_type: r.cms_count for r in probed.collect()}
        assert got == exact  # d=5, w=65536 -> collisions in all rows ~ impossible

    def test_kll_exact_regime_quantiles(self, events):
        n = events.count()
        sk = sketch_dataframe(events, KLLSpec(k=2 * n, col="value"),
                              ["event_id"])
        vals = np.array([r.value for r in events.select("value").collect()])
        for q in (0.25, 0.5, 0.9):
            assert sk.quantile(q) == pytest.approx(np.quantile(vals, q), rel=1e-9)

    def test_tdigest_bound(self, events):
        sk = sketch_dataframe(events, TDigestSpec(compression=100, col="value"),
                              ["event_id"])
        vals = np.array([r.value for r in events.select("value").collect()])
        for q in (0.1, 0.5, 0.9):
            true_rank = (vals <= sk.quantile(q)).mean()
            assert abs(true_rank - q) <= 0.05


class TestGrouped:
    def test_grouped_hll_vs_exact(self, events):
        out = grouped_sketch(events, ["event_type"], HLLSpec(p=14), ["user_id"])
        got = {r.event_type: sketch_from_bytes(bytes(r.sketch)).estimate()
               for r in out.collect()}
        exact = {r.event_type: r.d for r in
                 events.groupBy("event_type")
                       .agg(F.countDistinct("user_id").alias("d")).collect()}
        for k, d in exact.items():
            assert abs(got[k] - d) <= max(3 * 1.04 / np.sqrt(2 ** 14) * d, 1)

    def test_salted_equals_unsalted(self, events):
        spec = BloomSpec(Shape.from_np(10_000, 1e-6))
        plain = {r.event_type: bytes(r.sketch) for r in
                 grouped_sketch(events, ["event_type"], spec, ["user_id"]).collect()}
        salted = {r.event_type: bytes(r.sketch) for r in
                  grouped_sketch(events, ["event_type"], spec, ["user_id"],
                                 salt=8).collect()}
        assert plain == salted  # byte-identical per group
        rows_plain = {r.event_type: r.rows for r in
                      grouped_sketch(events, ["event_type"], spec, ["user_id"]).collect()}
        exact_rows = {r.event_type: r.c for r in
                      events.groupBy("event_type").agg(F.count("*").alias("c")).collect()}
        assert rows_plain == exact_rows

    def test_segmented_equals_plain_grouped(self, events):
        """The no-raw-shuffle segmented path must produce byte-identical
        per-group sketches to the shuffle-based path (commutative merge)."""
        from sparksketch.agg import grouped_sketch_segmented
        spec = BloomSpec(Shape.from_np(10_000, 1e-6))
        plain = {r.event_type: (bytes(r.sketch), r.rows) for r in
                 grouped_sketch(events, ["event_type"], spec,
                                ["user_id"]).collect()}
        seg = {r.event_type: (bytes(r.sketch), r.rows) for r in
               grouped_sketch_segmented(events, ["event_type"], spec,
                                        ["user_id"]).collect()}
        assert plain == seg

    def test_regroup_from_finest_equals_direct(self, events):
        """CUBE building block: merging finest (a, b) sketches down to (a)
        must be byte-identical to building (a) directly from the data —
        the one-scan rollup is exact for commutative kinds."""
        from sparksketch.agg import (grouped_sketch_segmented,
                                     regroup_sketch_rows)
        spec = BloomSpec(Shape.from_np(10_000, 1e-6))
        finest = grouped_sketch_segmented(
            events, ["event_type", "user_id"], spec, ["props"])
        rolled = {r.event_type: (bytes(r.sketch), r.rows) for r in
                  regroup_sketch_rows(finest, ["event_type"],
                                      order_cols=["user_id"]).collect()}
        direct = {r.event_type: (bytes(r.sketch), r.rows) for r in
                  grouped_sketch_segmented(events, ["event_type"], spec,
                                           ["props"]).collect()}
        assert rolled == direct
        # global () regroup == one tree-aggregated blob
        from sparksketch.agg import build_partials, tree_aggregate
        top = regroup_sketch_rows(finest, []).collect()
        assert len(top) == 1
        assert bytes(top[0].sketch) == tree_aggregate(
            build_partials(events, spec, ["props"]))

    def test_segmented_high_cardinality_exact(self, events):
        """One bottom-k sketch per user_id (high-cardinality group): exact
        regime => per-group distinct estimates equal count(DISTINCT)."""
        from sparksketch.agg import (BottomKSpec, grouped_sketch_segmented,
                                     with_sketch_estimate)
        per = grouped_sketch_segmented(events, ["user_id"],
                                       BottomKSpec(k=1024), ["event_type"])
        got = {r.user_id: int(round(r.est)) for r in
               with_sketch_estimate(per, "est").collect()}
        exact = {r.user_id: r.d for r in
                 events.groupBy("user_id")
                       .agg(F.countDistinct("event_type").alias("d"))
                       .collect()}
        assert got == exact


class TestKeyedLayerFind:
    def test_per_key_blob_routing(self, spark):
        """Each row probes the layered sketch selected by its key column;
        keys without a blob get an empty hit list."""
        from sparksketch.agg import with_keyed_layer_find
        from sparksketch.shape import Shape
        from sparksketch.sketches import LayeredBloomFilter
        shape = Shape.from_np(1000, 1e-9)
        blobs = {}
        import numpy as np
        from pyspark.sql import functions as F2
        items = {0: ["a", "b"], 1: ["b", "c"]}
        for key, vals in items.items():
            sk = LayeredBloomFilter(shape)
            df1 = spark.createDataFrame([(v,) for v in vals], "v string")
            hp = df1.select(F2.xxhash64("v").alias("h1")).toPandas()
            sk.add_hashes(np.full(len(hp), 7 + key), hp.h1.to_numpy())
            blobs[key] = sk.to_bytes()
        probes = spark.createDataFrame(
            [(0, "a"), (0, "c"), (1, "c"), (1, "a"), (2, "a")],
            "stream bigint, v string")
        got = {(r.stream, r.v): list(r.hits) for r in
               with_keyed_layer_find(probes, blobs, "stream", ["v"],
                                     out_col="hits").collect()}
        assert got == {(0, "a"): [7], (0, "c"): [], (1, "c"): [8],
                       (1, "a"): [], (2, "a"): []}


class TestSemiJoin:
    def test_bloom_semijoin_matches_exact(self, spark, sf_dir):
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
        got = bloom_semijoin(customer, ["c_custkey"], orders, ["o_custkey"],
                             expected_n=200_000, fpp=1e-9)
        exact = customer.join(orders.select(F.col("o_custkey").alias("c_custkey"))
                              .distinct(), "c_custkey", "inner")
        assert got.count() == exact.count()


class TestStableReplay:
    def test_deterministic_across_runs(self, spark, sf_dir):
        tr = transcripts_from_events(spark, sf_dir)
        ss = StableShape.builder(Shape.from_np(500, 1e-3)).set_max(3).build()
        a = {r.pid: bytes(r.sketch) for r in
             stable_build(tr, ss, ["text"], "conv_id", ["conv_id", "turn_idx"],
                          num_partitions=4).collect()}
        b = {r.pid: bytes(r.sketch) for r in
             stable_build(tr, ss, ["text"], "conv_id", ["conv_id", "turn_idx"],
                          num_partitions=4).collect()}
        assert a == b
        assert len(a) == 4

    def test_flatten_membership_sees_recent(self, spark, sf_dir):
        tr = transcripts_from_events(spark, sf_dir)
        n = tr.count()
        ss = StableShape.builder(Shape.from_np(max(n, 100), 1e-4)).set_max(7).build()
        parts = stable_build(tr, ss, ["text"], "conv_id",
                             ["conv_id", "turn_idx"], num_partitions=4)
        sks = [sketch_from_bytes(bytes(r.sketch)) for r in parts.collect()]
        assert sum(s.cardinality() for s in sks) > 0
        flat = sks[0].flatten()
        merged = flat.to_bytes()
        for s in sks[1:]:
            from sparksketch.sketches import merge_bytes
            merged = merge_bytes(merged, s.flatten().to_bytes())
        assert sketch_from_bytes(merged).cardinality() > 0


class TestTranscripts:
    def test_per_turn_text_equality_invariant(self, spark, sf_dir):
        """input_hint: per-turn text equality under stable (conv_id,
        turn_idx) ordering — the derivation is deterministic, so two
        independent builds must agree row-for-row."""
        a = transcripts_from_events(spark, sf_dir).orderBy("conv_id", "turn_idx")
        b = transcripts_from_events(spark, sf_dir).orderBy("conv_id", "turn_idx")
        pa = a.toPandas()
        pb = b.toPandas()
        assert (pa["text"] == pb["text"]).all()
        assert list(pa.columns) == ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
        # dense turn_idx per conv
        g = pa.groupby("conv_id")["turn_idx"]
        assert (g.min() == 0).all()
        assert (g.max() + 1 == g.count()).all()
