"""Distributed aggregation tests (local Spark): associativity across
partition counts and row orders, grouped sketches against a driver-side
reference,
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
    {2,4,8} and shuffled row orders."""

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

    # sha256 of every regroup_sketch_rows output row (keys, rows, sketch
    # bytes, in key order) over the sf0.001 events, with 3-row Arrow
    # batches so groups straddle batches in both folds: the grouped
    # build's stage 2 on (event_type, ub) and the rollup to ub, whose
    # NULL key recurs in every partition.
    @pytest.mark.parametrize("spec,cols,digest", [
        pytest.param(HLLSpec(p=10), ["user_id"],
                     "5937048bdb0781b201d9a36aa6e551b2a26cee47234bdf531302c2fb3e764581",
                     id="hll"),
        pytest.param(BloomSpec(Shape.from_np(2_000, 1e-4)), ["user_id"],
                     "4454c184a2da4323d4155e08ed9ad9cadec5725e19d8b4fcc4ce3ccbb73a9853",
                     id="bloom"),
        pytest.param(KLLSpec(k=32, col="value"), ["event_id"],
                     "6865f25fb454ef7398ecea74f7c2236fc980bc959ff59edf60b6cfe0107b2b34",
                     id="kll"),
    ])
    def test_regroup_golden_bytes(self, spark, events, sf_dir, spec, cols,
                                  digest):
        from sparksketch.agg import regroup_sketch_rows
        if os.path.basename(os.path.normpath(sf_dir)) != "sf0.001":
            pytest.skip("golden digests are recorded for sf0.001")
        df = (events.withColumn("ub", F.when(F.col("user_id") % 7 != 0,
                                             F.col("user_id") % 5))
              .repartition(4, "event_id").sortWithinPartitions("event_id"))
        conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
        default = spark.conf.get(conf)
        spark.conf.set(conf, "3")
        try:
            fine = grouped_sketch(df, ["event_type", "ub"], spec, cols)
            coarse = regroup_sketch_rows(fine, ["ub"],
                                         order_cols=["event_type"])
            h = hashlib.sha256()
            for frame, keys in ((fine, ["event_type", "ub"]),
                                (coarse, ["ub"])):
                rows = [(tuple(r[k] for k in keys), r["rows"],
                         bytes(r["sketch"])) for r in frame.collect()]
                for key, n, blob in sorted(rows, key=repr):
                    h.update(repr((key, n)).encode())
                    h.update(blob)
        finally:
            spark.conf.set(conf, default)
        assert h.hexdigest() == digest


class TestPhysicalPlans:
    def test_explain_plans_checks_pass(self, sf_dir):
        """tools/explain_plans.py asserts the scale-critical plan shapes:
        no Exchange before the partial build, one scan for a multi-sketch
        build, only sketch rows shuffled by the grouped build."""
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

    def test_grouped_rows_exact(self, events):
        spec = BloomSpec(Shape.from_np(10_000, 1e-6))
        rows = {r.event_type: r.rows for r in
                grouped_sketch(events, ["event_type"], spec, ["user_id"]).collect()}
        exact_rows = {r.event_type: r.c for r in
                      events.groupBy("event_type").agg(F.count("*").alias("c")).collect()}
        assert rows == exact_rows

    def test_segmented_equals_plain_grouped(self, events, grouped_reference):
        """Per-partition partials merged per group give the bytes and rows
        of one plain sketch per group, built on the driver (commutative
        merge)."""
        spec = BloomSpec(Shape.from_np(10_000, 1e-6))
        seg = {(r.event_type,): (bytes(r.sketch), r.rows) for r in
               grouped_sketch(events, ["event_type"], spec,
                              ["user_id"]).collect()}
        assert seg == grouped_reference(events, ["event_type"], spec,
                                        ["user_id"])

    # sha256 of grouped_sketch's output (key, rows and sketch bytes of every
    # group, in key order) over the sf0.001 events grouped by event_type,
    # hash-partitioned 4 ways on event_id.  These kinds merge order-free,
    # so the digests hold for any grouped build that is correct; KLL and
    # t-digest bytes depend on the merge order and are left out.
    @pytest.mark.parametrize("spec,cols,digest", [
        pytest.param(BloomSpec(Shape.from_np(10_000, 1e-6)), ["user_id"],
                     "060c80663a37a9465055469b3056a817fa7340495de73d93f673a18fa2077d1f",
                     id="bloom"),
        pytest.param(MixKeyBloomSpec(Shape.from_np(10_000, 1e-6)),
                     ["user_id", "event_type"],
                     "498a77afdcaf66d8dde8c4f7c90cccd260ad9f273cac6ea82bda6e51570c8cc4",
                     id="mix"),
        pytest.param(CountingBloomSpec(Shape.from_np(10_000, 1e-4)),
                     ["user_id"],
                     "d08d57bc9fadf4f932ee0f56622fac6c1ba2497475fb57b5c83787bde9fb95ee",
                     id="counting"),
        pytest.param(HLLSpec(p=12), ["user_id"],
                     "aba50e05437b8e2a08c952daf6576e52db3a94484acaed734939bdeb0edaf81d",
                     id="hll"),
        pytest.param(CMSSpec(w=1 << 12, d=4), ["user_id"],
                     "fd576fe9419431a6406104bf4a248841889694c52866a62e68b087071e11e1e9",
                     id="cms"),
        pytest.param(BottomKSpec(k=256), ["user_id"],
                     "753dabcb892431ffa20745d66be72582c5d6dcd1af05ab389fc7d85edb3df167",
                     id="bottomk"),
        pytest.param(MinHashSpec(n_perm=64), ["user_id"],
                     "10a4fcff8c10ce6e2e6bdea2cbb1cc22aee915e306a138eba62d35f403dcc82c",
                     id="minhash"),
        pytest.param(LayeredBloomSpec(Shape.from_np(10_000, 1e-6),
                                      layer_col="layer"), ["event_id"],
                     "ab2b610cdeb142870ed6b1023bb2420539f89f3f44620ddfca60b67fc5e941ca",
                     id="layered"),
    ])
    def test_grouped_golden_bytes(self, events, sf_dir, spec, cols, digest):
        if os.path.basename(os.path.normpath(sf_dir)) != "sf0.001":
            pytest.skip("golden digests are recorded for sf0.001")
        df = (events.withColumn(
                  "layer", (F.unix_timestamp("ts") / 86400).cast("long"))
              .repartition(4, "event_id").sortWithinPartitions("event_id"))
        h = hashlib.sha256()
        for r in sorted(grouped_sketch(df, ["event_type"], spec,
                                       cols).collect(),
                        key=lambda r: r.event_type):
            h.update(repr((r.event_type, r.rows)).encode())
            h.update(bytes(r.sketch))
        assert h.hexdigest() == digest

    def test_regroup_from_finest_equals_direct(self, events):
        """CUBE building block: merging finest (a, b) sketches down to (a)
        must be byte-identical to building (a) directly from the data —
        the one-scan rollup is exact for commutative kinds."""
        from sparksketch.agg import regroup_sketch_rows
        spec = BloomSpec(Shape.from_np(10_000, 1e-6))
        finest = grouped_sketch(
            events, ["event_type", "user_id"], spec, ["props"])
        rolled = {r.event_type: (bytes(r.sketch), r.rows) for r in
                  regroup_sketch_rows(finest, ["event_type"],
                                      order_cols=["user_id"]).collect()}
        direct = {r.event_type: (bytes(r.sketch), r.rows) for r in
                  grouped_sketch(events, ["event_type"], spec,
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
        from sparksketch.agg import with_sketch_estimate
        per = grouped_sketch(events, ["user_id"], BottomKSpec(k=1024),
                             ["event_type"])
        got = {r.user_id: int(round(r.est)) for r in
               with_sketch_estimate(per, "est").collect()}
        exact = {r.user_id: r.d for r in
                 events.groupBy("user_id")
                       .agg(F.countDistinct("event_type").alias("d"))
                       .collect()}
        assert got == exact


class TestSketchRowFold:
    """regroup_sketch_rows folds each Arrow batch with fold_sketch_runs and
    carries a batch's last group into the next one."""

    def test_nan_and_null_double_keys_fold_to_one_null_group(self, spark):
        """A double key's NaN rows join its NULL rows (the _norm_key
        contract), with and without a second key column, and the emitted
        key is NULL, not NaN."""
        from sparksketch.agg import _norm_key, regroup_sketch_rows
        from sparksketch.sketches import merge_blob_list
        nan = float("nan")
        keys = [nan, None, 1.0, nan, None, 1.0, nan]
        blobs = []
        for i in range(len(keys)):
            sk = HLLSpec(p=8).empty()
            sk.add_hashes(np.arange(10 * i, 10 * i + 10, dtype=np.int64))
            blobs.append(sk.to_bytes())
        rows = [(k, "a" if i % 2 else "b", blobs[i], i + 1)
                for i, k in enumerate(keys)]
        df = spark.createDataFrame(
            rows, "k double, g string, sketch binary, rows long")
        for group_cols in (["k"], ["k", "g"]):
            want = {}
            for k, g, blob, n in rows:
                key = _norm_key((k, g))[:len(group_cols)]
                ent = want.setdefault(key, [[], 0])
                ent[0].append(blob)
                ent[1] += n
            got = {tuple(r[c] for c in group_cols): (bytes(r.sketch), r.rows)
                   for r in regroup_sketch_rows(df, group_cols).collect()}
            assert got == {k: (merge_blob_list(b), n)
                           for k, (b, n) in want.items()}, group_cols

    @pytest.mark.parametrize("spec", [KLLSpec(k=16, col="value"),
                                      TDigestSpec(compression=20,
                                                  col="value")],
                             ids=["kll", "tdigest"])
    def test_one_row_batches_merge_as_one_list(self, spark, events, spec,
                                               tmp_path):
        """At one row per Arrow batch every group spans batches: KLL and
        t-digest bytes still equal ``merge_blob_list`` of the group's rows
        in (key, order_cols) order, on the estimate path and the
        write_dir path alike."""
        import pyarrow.parquet as pq

        from sparksketch.agg import _estimate, regroup_sketch_rows
        from sparksketch.sketches import merge_blob_list
        df = (events.withColumn("ub", F.when(F.col("user_id") % 7 != 0,
                                             F.col("user_id") % 3))
              .repartition(4, "event_id").sortWithinPartitions("event_id"))
        fine_rows = grouped_sketch(df, ["ub", "event_type"], spec,
                                   ["event_id"]).collect()
        fine = spark.createDataFrame(
            fine_rows, "ub bigint, event_type string, sketch binary, "
                       "rows bigint")
        want = {}
        for r in sorted(fine_rows, key=lambda r: r.event_type):
            ent = want.setdefault(r.ub, [[], 0])
            ent[0].append(bytes(r.sketch))
            ent[1] += r.rows
        want = {k: (merge_blob_list(b), n) for k, (b, n) in want.items()}
        assert max(len(v) for v in want.values()) > 1
        conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
        default = spark.conf.get(conf)
        spark.conf.set(conf, "1")
        try:
            est = {r.ub: (r.est, r.rows) for r in regroup_sketch_rows(
                fine, ["ub"], order_cols=["event_type"],
                estimate_col="est").collect()}
            out = str(tmp_path / "fold")
            written = regroup_sketch_rows(
                fine, ["ub"], order_cols=["event_type"], write_dir=out,
                buckets=2).collect()
        finally:
            spark.conf.set(conf, default)
        assert est == {k: (_estimate(b), n) for k, (b, n) in want.items()}
        got = {}
        for w in written:
            for r in pq.read_table(f"{out}/{w.file}").to_pylist():
                assert r["ub"] not in got
                got[r["ub"]] = (r["sketch"], r["rows"])
        assert got == want


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
