"""spark.read.format("sketchview") — the Python Data Source over a
materialized sketch view: schema derivation, one exact bucket fold per
read task, and segment restriction.
"""
import pytest
from pyspark.sql import functions as F

from sparksketch.agg import BottomKSpec, HLLSpec
from sparksketch.datasource import SketchViewDataSource
from sparksketch.view import view_append, view_materialize


@pytest.fixture(scope="module")
def view_path(spark, sf_dir, tmp_path_factory):
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    path = str(tmp_path_factory.mktemp("dsv") / "view")
    h = F.xxhash64(F.col("event_id").cast("string")) % 2 == 0
    spec = BottomKSpec(k=65536)
    view_materialize(events.filter(h), ["event_type"], spec,
                     ["user_id"], path)
    view_append(events.filter(~h), spec, ["user_id"], path)
    spark.dataSource.register(SketchViewDataSource)
    return path


class TestSketchViewDataSource:
    def test_read_matches_exact_counts(self, spark, sf_dir, view_path):
        events = spark.read.parquet(f"{sf_dir}/events.parquet")
        got = {r["event_type"]: (r["estimate"], r["rows"])
               for r in (spark.read.format("sketchview")
                         .option("path", view_path).load()).collect()}
        want = {r["event_type"]: (r["exact"], r["n"])
                for r in events.groupBy("event_type").agg(
                    F.countDistinct("user_id").alias("exact"),
                    F.count(F.lit(1)).alias("n")).collect()}
        assert set(got) == set(want)
        for k, (exact, n) in want.items():
            assert got[k][0] == exact  # bottom-k exact regime
            assert got[k][1] == n

    def test_each_group_emitted_exactly_once(self, spark, view_path):
        """Every group's rows of both segments meet in its one bucket:
        one output row per group, one partition per stored bucket."""
        from sparksketch.view import _read_manifest
        df = spark.read.format("sketchview").option("path", view_path).load()
        assert df.rdd.getNumPartitions() == _read_manifest(view_path).nbuckets
        types = [r["event_type"] for r in df.collect()]
        assert len(types) == len(set(types))

    def test_segment_restriction(self, spark, sf_dir, view_path):
        events = spark.read.parquet(f"{sf_dir}/events.parquet")
        h = F.xxhash64(F.col("event_id").cast("string")) % 2 == 0
        got = {r["event_type"]: r["estimate"]
               for r in (spark.read.format("sketchview")
                         .option("path", view_path)
                         .option("segments", "0").load()).collect()}
        want = {r["event_type"]: r["exact"]
                for r in events.filter(h).groupBy("event_type").agg(
                    F.countDistinct("user_id").alias("exact")).collect()}
        assert got == {k: float(v) for k, v in want.items()}

    def test_missing_path_rejected(self, spark, view_path):
        with pytest.raises(Exception, match="path"):
            spark.read.format("sketchview").load().collect()

    def test_null_dim_values_survive(self, spark, sf_dir,
                                     tmp_path_factory):
        events = spark.read.parquet(f"{sf_dir}/events.parquet")
        path = str(tmp_path_factory.mktemp("dsn") / "view")
        ev = events.withColumn(
            "flag", F.when(F.col("event_id") % 3 == 0, F.lit(None))
            .otherwise(F.lit("x")))
        view_materialize(ev, ["flag"], BottomKSpec(k=65536),
                         ["user_id"], path)
        got = {r["flag"]: r["estimate"]
               for r in (spark.read.format("sketchview")
                         .option("path", path).load()).collect()}
        want = {r["flag"]: float(r["exact"])
                for r in ev.groupBy("flag").agg(
                    F.countDistinct("user_id").alias("exact")).collect()}
        assert got == want and None in got

    def test_segments_option_validated(self, spark, sf_dir,
                                       tmp_path_factory):
        """The ``segments`` option goes through the view's manifest check:
        an unknown id raises, and so does a compacted-away segment mixed
        with the active one."""
        from sparksketch.view import view_compact
        events = spark.read.parquet(f"{sf_dir}/events.parquet")
        path = str(tmp_path_factory.mktemp("dss") / "view")
        spec = BottomKSpec(k=1024)
        h = F.xxhash64(F.col("event_id").cast("string")) % 2 == 0
        view_materialize(events.filter(h), ["event_type"], spec,
                         ["user_id"], path)
        view_append(events.filter(~h), spec, ["user_id"], path)
        seg = view_compact(spark, path)

        def read(segs):
            return (spark.read.format("sketchview").option("path", path)
                    .option("segments", segs).load().collect())
        with pytest.raises(Exception, match="unknown segment ids"):
            read(f"{seg},9")
        with pytest.raises(Exception, match="count their rows twice"):
            read(f"1,{seg}")
        assert (sum(r["rows"] for r in read(f"{seg}"))
                == sum(r["rows"] for r in read("0,1")))


def test_each_partition_reads_only_its_bucket(spark, tmp_path):
    """A view of 10^5 groups: each reader partition lists exactly its
    bucket's manifest files of the active segments, and the read equals
    ``view_query`` at the view's dims."""
    import pandas as pd

    from sparksketch.view import _read_manifest, view_compact, view_query
    spark.dataSource.register(SketchViewDataSource)
    path = str(tmp_path / "wide")
    facts = spark.range(300_000).select(
        (F.col("id") % 100_000).alias("g"), (F.col("id") % 7).alias("u"))
    spec = HLLSpec(p=4)
    view_materialize(facts.filter("id < 200000"), ["g"], spec, ["u"], path)
    view_append(facts.filter("id >= 200000"), spec, ["u"], path)
    view_compact(spark, path)
    view_append(facts.filter("id < 1000"), spec, ["u"], path)
    m = _read_manifest(path)
    want = [[f for r in m.rows if r.active
             for f, b in zip(r.files, r.buckets) if b == bucket]
            for bucket in range(m.nbuckets)]
    reader = SketchViewDataSource({"path": path}).reader(None)
    got = [[f.split("/segments/", 1)[1] for f in p.value]
           for p in reader.partitions()]
    assert got == want and all(len(w) == 2 for w in want)
    read = (spark.read.format("sketchview").option("path", path).load()
            .toPandas().sort_values("g").reset_index(drop=True))
    query = (view_query(spark, path).toPandas()[["g", "estimate", "rows"]]
             .sort_values("g").reset_index(drop=True))
    assert len(read) == 100_000
    pd.testing.assert_frame_equal(read, query)
