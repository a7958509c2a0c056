"""Materialized sketch views (sparksketch/view.py): incremental
append, grouping-set queries, compaction, spec guard, and the
exact-regime oracle — view estimates must EQUAL Spark SQL exact
distinct counts when the bottom-k sketches are below capacity.
"""
import numpy as np
import pytest
from pyspark.sql import functions as F

from sparksketch.agg import BottomKSpec, HLLSpec, KLLSpec
from sparksketch.view import (view_append, view_compact, view_materialize,
                              view_query, view_rows)


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _exact(df, dims):
    g = df.groupBy(*dims).agg(
        F.countDistinct("user_id").alias("exact"),
        F.count(F.lit(1)).alias("exact_rows"))
    return {tuple(r[d] for d in dims): (r["exact"], r["exact_rows"])
            for r in g.collect()}


class TestSketchView:
    SPEC = BottomKSpec(k=65536)  # far above sf0.001 distinct counts

    def _build(self, events, tmp_path, split_col="event_id"):
        """Materialize from one half of the facts, append the other —
        the daily-ingest shape."""
        path = str(tmp_path / "view")
        h = F.xxhash64(F.col(split_col).cast("string")) % 2 == 0
        view_materialize(events.filter(h), ["event_type"], self.SPEC,
                         ["user_id"], path)
        seg = view_append(events.filter(~h), self.SPEC, ["user_id"], path)
        assert seg == 1
        return path

    def test_append_then_query_exact(self, spark, events, tmp_path):
        path = self._build(events, tmp_path)
        got = {r["event_type"]: (r["estimate"], r["rows"])
               for r in view_query(spark, path).collect()}
        want = _exact(events, ["event_type"])
        assert set(got) == {k[0] for k in want}
        for (k,), (exact, exact_rows) in want.items():
            est, rows = got[k]
            assert est == exact, k        # bottom-k exact regime
            assert rows == exact_rows

    def test_rollup_to_global(self, spark, events, tmp_path):
        path = self._build(events, tmp_path)
        row = view_query(spark, path, group_cols=[]).collect()
        assert len(row) == 1
        assert row[0]["estimate"] == \
            events.select("user_id").distinct().count()
        assert row[0]["rows"] == events.count()

    def test_where_prunes_before_merge(self, spark, events, tmp_path):
        path = self._build(events, tmp_path)
        some_type = events.select("event_type").first()[0]
        got = view_query(spark, path,
                         where=F.col("event_type") == some_type).collect()
        assert len(got) == 1
        exact = (events.filter(F.col("event_type") == some_type)
                 .select("user_id").distinct().count())
        assert got[0]["estimate"] == exact

    def test_segment_restriction_reads_only_its_files(self, spark, events,
                                                      tmp_path):
        from sparksketch.view import _read_manifest
        path = self._build(events, tmp_path)
        # only segment 0: estimates reflect HALF the facts
        half = view_query(spark, path, group_cols=[], segments=[0])
        h = F.xxhash64(F.col("event_id").cast("string")) % 2 == 0
        exact_half = (events.filter(h).select("user_id")
                      .distinct().count())
        assert half.collect()[0]["estimate"] == exact_half
        # and the read opens only segment 0's files: with every other
        # listed file overwritten by garbage it still answers exactly,
        # while a read of every segment fails on the garbage
        m = _read_manifest(path)
        seg0 = m.rows[0]
        assert seg0.seg == 0 and seg0.files
        others = [f for r in m.rows[1:] for f in r.files]
        assert others
        for f in others:
            with open(f"{path}/segments/{f}", "wb") as out:
                out.write(b"not a parquet file")
        half = view_query(spark, path, group_cols=[], segments=[0])
        assert half.collect()[0]["estimate"] == exact_half
        with pytest.raises(Exception, match="Parquet magic bytes"):
            view_query(spark, path, group_cols=[]).collect()

    def test_compact_preserves_estimates(self, spark, events, tmp_path):
        path = self._build(events, tmp_path)
        before = {r["event_type"]: r["estimate"]
                  for r in view_query(spark, path).collect()}
        seg = view_compact(spark, path)
        after = {r["event_type"]: r["estimate"]
                 for r in view_query(spark, path).collect()}
        assert after == before
        # one active segment now, and it is the new one
        from sparksketch.view import _read_manifest
        assert _read_manifest(path).active == [seg]

    def test_spec_mismatch_rejected(self, spark, events, tmp_path):
        path = self._build(events, tmp_path)
        with pytest.raises(ValueError, match="spec mismatch"):
            view_append(events, HLLSpec(p=12), ["user_id"], path)

    def test_unknown_group_col_rejected(self, spark, events, tmp_path):
        path = self._build(events, tmp_path)
        with pytest.raises(ValueError, match="not in view dims"):
            view_query(spark, path, group_cols=["nope"])

    def test_stream_writer_exactly_once(self, spark, events, tmp_path):
        """foreachBatch maintenance: one segment per micro-batch from a
        file stream; a replayed batch id is a no-op; the final view
        answers exactly."""
        from sparksketch.view import _read_manifest, view_stream_writer
        src = str(tmp_path / "src")
        path = str(tmp_path / "sview")
        # two source files -> two micro-batches (maxFilesPerTrigger=1);
        # the file source needs a flat dir of files, so lift the part
        # files out of the write directories
        import glob
        import shutil
        h = F.xxhash64(F.col("event_id").cast("string")) % 2 == 0
        events.filter(h).coalesce(1).write.parquet(src + "/a")
        events.filter(~h).coalesce(1).write.parquet(src + "/b")
        for i, d in enumerate(("a", "b")):
            part = glob.glob(f"{src}/{d}/part-*.parquet")[0]
            shutil.move(part, f"{src}/{i:03d}.parquet")
            shutil.rmtree(f"{src}/{d}")
        schema = events.schema
        writer = view_stream_writer(["event_type"], self.SPEC,
                                    ["user_id"], path)
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", "1").parquet(src))
        q = (stream.writeStream.foreachBatch(writer)
             .option("checkpointLocation", str(tmp_path / "ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        m = _read_manifest(path)
        active = m.active
        assert len(active) == 2
        notes = sorted(r[4] for r in m.rows)
        assert notes == ["stream_batch=0", "stream_batch=1"]
        # crash-replay of the last committed batch: a no-op
        writer(events.filter(~h), 1)
        assert _read_manifest(path).active == active
        got = {r["event_type"]: r["estimate"]
               for r in view_query(spark, path).collect()}
        want = _exact(events, ["event_type"])
        assert got == {k[0]: v[0] for k, v in want.items()}

    def test_stream_writer_failed_commit_then_replay(
            self, spark, events, tmp_path, monkeypatch):
        """The manifest commit of micro-batch 1 fails after its temp file
        is written; the re-delivered batch 1 then commits exactly once
        and the view answers exactly."""
        import pyarrow.parquet as pq

        from sparksketch.view import _read_manifest, view_stream_writer
        path = str(tmp_path / "sview")
        h = F.xxhash64(F.col("event_id").cast("string")) % 2 == 0
        writer = view_stream_writer(["event_type"], self.SPEC,
                                    ["user_id"], path)
        writer(events.filter(h), 0)
        write_table = pq.write_table

        def crash(table, where, **kw):
            write_table(table, where, **kw)
            raise RuntimeError("injected crash before the rename")

        monkeypatch.setattr(pq, "write_table", crash)
        with pytest.raises(RuntimeError, match="injected crash"):
            writer(events.filter(~h), 1)
        monkeypatch.undo()
        assert [r[4] for r in _read_manifest(path).rows] == \
            ["stream_batch=0"]
        writer(events.filter(~h), 1)
        m = _read_manifest(path)
        assert [r[4] for r in m.rows if r[3]] == \
            ["stream_batch=0", "stream_batch=1"]
        got = {r["event_type"]: (r["estimate"], r["rows"])
               for r in view_query(spark, path).collect()}
        want = _exact(events, ["event_type"])
        assert got == {k[0]: v for k, v in want.items()}

    def test_multi_dim_view_with_null_dim_values(self, spark, events,
                                                 tmp_path):
        """Two dims, one with NULLs injected: per-(type, flag) groups,
        rollup to flag alone, and NULL group keys all survive the
        segment merge exactly."""
        path = str(tmp_path / "mdview")
        ev = events.withColumn(
            "flag", F.when(F.col("event_id") % 3 == 0, F.lit(None))
            .otherwise((F.col("event_id") % 2 == 0).cast("string")))
        h = F.xxhash64(F.col("event_id").cast("string")) % 2 == 0
        view_materialize(ev.filter(h), ["event_type", "flag"], self.SPEC,
                         ["user_id"], path)
        view_append(ev.filter(~h), self.SPEC, ["user_id"], path)
        got = {(r["event_type"], r["flag"]): r["estimate"]
               for r in view_query(spark, path).collect()}
        want = {(r["event_type"], r["flag"]): r["exact"]
                for r in ev.groupBy("event_type", "flag").agg(
                    F.countDistinct("user_id").alias("exact")).collect()}
        assert got == {k: float(v) for k, v in want.items()}
        assert any(k[1] is None for k in got)  # NULL keys present
        # rollup to the OTHER dim crosses the dropped-dim boundary
        got2 = {r["flag"]: r["estimate"]
                for r in view_query(spark, path,
                                    group_cols=["flag"]).collect()}
        want2 = {r["flag"]: r["exact"]
                 for r in ev.groupBy("flag").agg(
                     F.countDistinct("user_id").alias("exact")).collect()}
        assert got2 == {k: float(v) for k, v in want2.items()}

    def test_hll_view_within_bound(self, spark, events, tmp_path):
        """Approximate-regime kind through the same lifecycle: HLL
        estimates after materialize+append stay inside the 3-sigma
        published bound per group."""
        path = str(tmp_path / "hview")
        spec = HLLSpec(p=12)
        h = F.xxhash64(F.col("event_id").cast("string")) % 2 == 0
        view_materialize(events.filter(h), ["event_type"], spec,
                         ["user_id"], path)
        view_append(events.filter(~h), spec, ["user_id"], path)
        want = _exact(events, ["event_type"])
        sigma = 1.04 / np.sqrt(1 << 12)
        for r in view_query(spark, path).collect():
            exact = want[(r["event_type"],)][0]
            assert abs(r["estimate"] - exact) <= 3 * sigma * exact + 2

    @pytest.mark.parametrize("op", ["append", "compact"])
    def test_failed_manifest_write_keeps_prior_answers(
            self, spark, events, tmp_path, monkeypatch, op):
        """The manifest commit fails after its temp file is written and
        before the rename: the view still answers exactly as before, byte
        for byte, and both readers skip the stray ``_tmp-*`` file."""
        import os

        import pyarrow.parquet as pq

        from sparksketch.datasource import SketchViewDataSource
        from sparksketch.view import _read_manifest
        spark.dataSource.register(SketchViewDataSource)
        path = self._build(events, tmp_path)

        def answers():
            q = view_query(spark, path).toPandas()
            blobs = sorted((r["event_type"], bytes(r["sketch"]))
                           for r in view_rows(spark, path).collect())
            read = (spark.read.format("sketchview").option("path", path)
                    .load().toPandas().sort_values("event_type")
                    .reset_index(drop=True))
            return q, blobs, read

        before, rows_before = answers(), _read_manifest(path).rows
        write_table = pq.write_table

        def crash(table, where, **kw):
            write_table(table, where, **kw)
            raise RuntimeError("injected crash before the rename")

        monkeypatch.setattr(pq, "write_table", crash)
        with pytest.raises(RuntimeError, match="injected crash"):
            if op == "append":
                view_append(events, self.SPEC, ["user_id"], path)
            else:
                view_compact(spark, path)
        monkeypatch.undo()
        assert any(f.startswith("_tmp-")
                   for f in os.listdir(f"{path}/manifest"))
        assert _read_manifest(path).rows == rows_before
        after = answers()
        assert after[0].equals(before[0])
        assert after[1] == before[1]
        assert after[2].equals(before[2])

    def test_segments_validated(self, spark, events, tmp_path):
        """Unknown segment ids raise; so do compacted-away segments mixed
        with active ones (their rows would count twice)."""
        path = self._build(events, tmp_path)
        with pytest.raises(ValueError, match="unknown segment ids \\[7\\]"):
            view_rows(spark, path, segments=[0, 7])
        seg = view_compact(spark, path)
        with pytest.raises(ValueError, match="count their rows twice"):
            view_rows(spark, path, segments=[0, seg])
        # compacted-away segments on their own are a lineage read
        lineage = view_query(spark, path, group_cols=[], segments=[0, 1])
        assert lineage.collect()[0]["rows"] == events.count()

    def test_stray_segment_files_are_never_read(self, spark, events,
                                                tmp_path):
        """A valid parquet file of sketch rows that no manifest lists sits
        in an active segment's directory, as a failed or speculative task
        attempt leaves it: queries, merged rows, compaction and the
        sketchview reader all still give the exact answers."""
        import glob
        import shutil

        from sparksketch.datasource import SketchViewDataSource
        spark.dataSource.register(SketchViewDataSource)
        path = self._build(events, tmp_path)
        src = sorted(glob.glob(f"{path}/segments/seg=1/*.parquet"))[0]
        shutil.copy(src, f"{path}/segments/seg=1/part-00000-stray.parquet")
        want = {k[0]: (float(e), n)
                for k, (e, n) in _exact(events, ["event_type"]).items()}

        def read():
            return {r["event_type"]: (r["estimate"], r["rows"])
                    for r in spark.read.format("sketchview")
                    .option("path", path).load().collect()}

        def query():
            return {r["event_type"]: (r["estimate"], r["rows"])
                    for r in view_query(spark, path).collect()}

        assert query() == want
        assert read() == want
        total = view_rows(spark, path, group_cols=[]).collect()
        assert [r["rows"] for r in total] == [events.count()]
        view_compact(spark, path)
        assert query() == want
        assert read() == want

    def test_empty_append_commits_a_segment_without_files(
            self, spark, events, tmp_path):
        """An append of no facts commits a segment that lists no files;
        queries, the reader and compaction answer as before it."""
        from sparksketch.datasource import SketchViewDataSource
        from sparksketch.view import _read_manifest
        spark.dataSource.register(SketchViewDataSource)
        path = self._build(events, tmp_path)
        seg = view_append(events.limit(0), self.SPEC, ["user_id"], path)
        m = _read_manifest(path)
        assert m.active == [0, 1, seg] and m.rows[-1].files == []
        want = {k[0]: (float(e), n)
                for k, (e, n) in _exact(events, ["event_type"]).items()}

        def answers():
            q = {r["event_type"]: (r["estimate"], r["rows"])
                 for r in view_query(spark, path).collect()}
            read = {r["event_type"]: (r["estimate"], r["rows"])
                    for r in spark.read.format("sketchview")
                    .option("path", path).load().collect()}
            return q, read

        assert answers() == (want, want)
        assert view_query(spark, path, segments=[seg]).collect() == []
        view_compact(spark, path)
        assert answers() == (want, want)

    def test_view_of_no_facts_answers_empty(self, spark, events, tmp_path):
        """A view materialized from no facts has no segment files at all:
        its reads run B tasks that emit nothing, so ``view_query`` (with
        and without ``where``, at the dims and at ``[]``), ``view_rows``
        and the sketchview reader return no rows, with the schema a
        non-empty view's read has, before and after a compaction."""
        from sparksketch.datasource import SketchViewDataSource
        spark.dataSource.register(SketchViewDataSource)
        path = str(tmp_path / "empty")
        view_materialize(events.limit(0), ["event_type"], self.SPEC,
                         ["user_id"], path)
        full = self._build(events, tmp_path)
        where = F.col("event_type") == "click"

        def reads(p):
            return [view_query(spark, p, **kw) for kw in (
                {}, {"where": where}, {"group_cols": []},
                {"group_cols": [], "where": where})] + [
                view_rows(spark, p),
                spark.read.format("sketchview").option("path", p).load()]

        for compacted in (False, True):
            for df, want in zip(reads(path), reads(full)):
                assert df.collect() == [], compacted
                assert df.schema == want.schema
            view_compact(spark, path)

    def test_where_on_segment_column(self, spark, events, tmp_path):
        """``where`` may name ``seg``: ``seg == 1`` answers from the
        appended half alone, as ``segments=[1]`` does."""
        path = self._build(events, tmp_path)

        def answer(**kw):
            return sorted(tuple(r) for r in
                          view_query(spark, path, **kw).collect())
        seg1 = answer(where=F.col("seg") == 1)
        assert seg1 == answer(segments=[1]) != answer()
        assert sum(r[1] for r in seg1) == events.filter(
            F.xxhash64(F.col("event_id").cast("string")) % 2 != 0).count()

    def test_view_without_dims(self, spark, events, tmp_path):
        """A view with no dims holds one global group, for a non-HLL spec
        too: its query returns one row holding every fact."""
        from sparksketch.datasource import SketchViewDataSource
        spark.dataSource.register(SketchViewDataSource)
        path = str(tmp_path / "nodims")
        h = F.xxhash64(F.col("event_id").cast("string")) % 2 == 0
        view_materialize(events.filter(h), [], self.SPEC, ["user_id"], path)
        view_append(events.filter(~h), self.SPEC, ["user_id"], path)
        exact = events.select("user_id").distinct().count()
        row = view_query(spark, path, []).collect()
        assert len(row) == 1
        assert row[0]["rows"] == events.count()
        assert row[0]["estimate"] == exact
        view_compact(spark, path)
        read = (spark.read.format("sketchview").option("path", path)
                .load().collect())
        assert [(r["estimate"], r["rows"]) for r in read] == \
            [(exact, events.count())]

    def test_timestamp_and_date_dims_in_other_time_zone(self, spark, events,
                                                        tmp_path):
        """``timestamp`` and ``date`` dims keep their keys under a non-UTC
        session time zone through materialize, append, compaction,
        ``view_query`` and the sketchview reader."""
        from sparksketch.datasource import SketchViewDataSource
        spark.dataSource.register(SketchViewDataSource)
        key = "spark.sql.session.timeZone"
        old = spark.conf.get(key)
        spark.conf.set(key, "America/Los_Angeles")
        try:
            ts = F.col("ts").cast("timestamp")
            ev = events.select(
                F.date_trunc("hour", ts).alias("hr"),
                F.to_date(ts).alias("d"), "user_id", "event_id")
            path = str(tmp_path / "tsview")
            h = F.xxhash64(F.col("event_id").cast("string")) % 2 == 0
            view_materialize(ev.filter(h), ["hr", "d"], self.SPEC,
                             ["user_id"], path)
            view_append(ev.filter(~h), self.SPEC, ["user_id"], path)
            want = {(r["hr"], r["d"]): (float(r["exact"]), r["n"])
                    for r in ev.groupBy("hr", "d").agg(
                        F.countDistinct("user_id").alias("exact"),
                        F.count(F.lit(1)).alias("n")).collect()}

            def answers():
                q = {(r["hr"], r["d"]): (r["estimate"], r["rows"])
                     for r in view_query(spark, path).collect()}
                read = {(r["hr"], r["d"]): (r["estimate"], r["rows"])
                        for r in spark.read.format("sketchview")
                        .option("path", path).load().collect()}
                return q, read

            assert answers() == (want, want)
            view_compact(spark, path)
            assert answers() == (want, want)
        finally:
            spark.conf.set(key, old)

    def test_int_dim_with_nulls_keeps_its_type(self, spark, events,
                                               tmp_path):
        """An ``int`` dim with NULLs round-trips through the segment
        writer as an int: in the files, in the manifest schema, in merged
        rows and in the sketchview schema, with the NULL group exact."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.types import IntegerType

        from sparksketch.datasource import SketchViewDataSource
        from sparksketch.view import _read_manifest
        spark.dataSource.register(SketchViewDataSource)
        path = str(tmp_path / "intview")
        ev = events.withColumn(
            "bucket", F.when(F.col("event_id") % 3 == 0, F.lit(None))
            .otherwise(F.pmod(F.xxhash64("user_id"), F.lit(4)))
            .cast("int"))
        view_materialize(ev, ["bucket"], self.SPEC, ["user_id"], path)
        m = _read_manifest(path)
        assert m.schema["bucket"].dataType == IntegerType()
        for f in m.rows[0].files:
            assert pq.read_schema(f"{path}/segments/{f}").field(
                "bucket").type == pa.int32()
        assert view_rows(spark, path).schema["bucket"].dataType == \
            IntegerType()
        want = {r["bucket"]: float(r["exact"])
                for r in ev.groupBy("bucket").agg(
                    F.countDistinct("user_id").alias("exact")).collect()}
        got = {r["bucket"]: r["estimate"]
               for r in view_query(spark, path).collect()}
        assert got == want and None in got
        read = spark.read.format("sketchview").option("path", path).load()
        assert read.schema["bucket"].dataType == IntegerType()
        assert {r["bucket"]: r["estimate"] for r in read.collect()} == want

    def test_old_layout_manifest_rejected(self, spark, events, tmp_path):
        """Manifests of both earlier layouts raise, naming the old layout:
        segments found by listing directories, and listed segment files
        without buckets.  ``view_query``, ``view_append``,
        ``view_compact`` and the sketchview reader all refuse them."""
        import os

        import pyarrow as pa
        import pyarrow.parquet as pq

        from sparksketch.datasource import SketchViewDataSource
        spark.dataSource.register(SketchViewDataSource)
        listed = {"seg": pa.array([0], pa.int32()), "spec": [repr(self.SPEC)],
                  "dims": ["event_type"], "active": [True],
                  "note": ["initial"]}
        unbucketed = {**listed, "files": [["seg=0/part-00000-x.parquet"]],
                      "schema": [events.select("event_type").schema.json()]}
        for i, cols in enumerate((listed, unbucketed)):
            path = str(tmp_path / f"old{i}")
            os.makedirs(f"{path}/manifest")
            pq.write_table(pa.table(cols),
                           f"{path}/manifest/manifest.parquet")
            for call in (
                    lambda: view_query(spark, path),
                    lambda: view_append(events, self.SPEC, ["user_id"],
                                        path),
                    lambda: view_compact(spark, path)):
                with pytest.raises(ValueError, match="old layout"):
                    call()
            # the reader's ValueError reaches the driver wrapped by Spark
            with pytest.raises(Exception, match="old layout"):
                (spark.read.format("sketchview").option("path", path)
                 .load().collect())

    def test_segment_files_hold_one_bucket_each(self, spark, events,
                                                tmp_path, monkeypatch):
        """Every file of every segment (materialized, appended and
        compacted) holds the rows of one bucket, ``pmod(xxhash64(dims),
        B)`` computed by Spark, and it is the file's bucket in the
        manifest; a segment has at most one file per bucket.  One group
        per bucket makes B the default parallelism on this small view."""
        from sparksketch import view
        from sparksketch.view import _read_manifest
        monkeypatch.setattr(view, "_GROUPS_PER_BUCKET", 1)
        path = str(tmp_path / "bview")
        ev = events.withColumn(
            "flag", F.when(F.col("event_id") % 3 == 0, F.lit(None))
            .otherwise((F.col("event_id") % 5).cast("int")))
        h = F.xxhash64(F.col("event_id").cast("string")) % 2 == 0
        view_materialize(ev.filter(h), ["event_type", "flag"], self.SPEC,
                         ["user_id"], path)
        view_append(ev.filter(~h), self.SPEC, ["user_id"], path)
        view_compact(spark, path)
        m = _read_manifest(path)
        assert m.nbuckets == spark.sparkContext.defaultParallelism
        assert len(m.rows) == 3
        for r in m.rows:
            assert len(r.files) > 1 and len(set(r.buckets)) == len(r.buckets)
            for f, b in zip(r.files, r.buckets):
                got = (spark.read.parquet(f"{path}/segments/{f}")
                       .select(F.pmod(F.xxhash64("event_type", "flag"),
                                      F.lit(m.nbuckets)).alias("b"))
                       .distinct().collect())
                assert [x["b"] for x in got] == [b], (r.seg, f)

    def test_bucket_count_follows_view_size(self, spark, events, tmp_path,
                                            monkeypatch):
        """B is about one bucket per ``_GROUPS_PER_BUCKET`` groups of
        segment 0, a divisor of the default parallelism P: a small view
        is one bucket.  Materialize folds in P buckets and files each
        under ``b % B``, which is Spark's ``pmod(xxhash64(dims), B)``
        of its rows; reads, appends and compaction then see B buckets."""
        from sparksketch import view
        from sparksketch.datasource import SketchViewDataSource
        from sparksketch.view import _bucket_count, _read_manifest
        assert [_bucket_count(g, 4) for g in (0, 1, 2048, 8193, 20000,
                                               10 ** 5)] == [1, 1, 1, 2, 2, 4]
        assert _bucket_count(20000, 6) == 3 and _bucket_count(1, 1) == 1
        p = spark.sparkContext.defaultParallelism
        small = self._build(events, tmp_path)
        assert _read_manifest(small).nbuckets == 1
        ev = events.withColumn("k", F.col("event_id") % 64)
        groups = ev.select("event_type", "k").distinct().count()
        monkeypatch.setattr(view, "_GROUPS_PER_BUCKET", -(-groups // 2))
        path = str(tmp_path / "halves")
        view_materialize(ev, ["event_type", "k"], self.SPEC, ["user_id"],
                         path)
        view_append(ev, self.SPEC, ["user_id"], path)
        m = _read_manifest(path)
        assert m.nbuckets == 2 and p % 2 == 0
        assert len(m.rows[0].files) > 2 and len(m.rows[1].files) <= 2
        for r in m.rows:
            for f, b in zip(r.files, r.buckets):
                got = (spark.read.parquet(f"{path}/segments/{f}")
                       .select(F.pmod(F.xxhash64("event_type", "k"),
                                      F.lit(2)).alias("b"))
                       .distinct().collect())
                assert [x["b"] for x in got] == [b], (r.seg, f)
        want = {(r["event_type"], r["k"]): (r["estimate"], r["rows"])
                for r in view_query(spark, path).collect()}
        assert len(want) == groups
        spark.dataSource.register(SketchViewDataSource)
        read = spark.read.format("sketchview").option("path", path).load()
        assert read.rdd.getNumPartitions() == 2
        assert {(r["event_type"], r["k"]): (r["estimate"], r["rows"])
                for r in read.collect()} == want
        view_compact(spark, path)
        assert sorted(_read_manifest(path).rows[-1].buckets) == [0, 1]
        assert {(r["event_type"], r["k"]): (r["estimate"], r["rows"])
                for r in view_query(spark, path).collect()} == want

    def test_append_with_other_dim_types_rejected(self, spark, events,
                                                  tmp_path):
        """A dim whose type differs from the view's would hash its groups
        to other buckets; the append raises before writing anything."""
        from sparksketch.view import _read_manifest
        path = str(tmp_path / "tview")
        ev = events.withColumn("b", (F.col("event_id") % 4).cast("int"))
        view_materialize(ev, ["b"], self.SPEC, ["user_id"], path)
        with pytest.raises(ValueError, match="dim types mismatch"):
            view_append(ev.withColumn("b", F.col("b").cast("long")),
                        self.SPEC, ["user_id"], path)
        assert _read_manifest(path).active == [0]

    def test_query_of_many_files_runs_no_listing_job(self, spark, events,
                                                     tmp_path, monkeypatch):
        """Past Spark's parallel-listing threshold (32 paths) a file scan
        lists its paths with a job of its own; a view query of more listed
        files runs none (no ``parquet at`` stage in its job group).  One
        group per bucket gives every segment one file per core."""
        from sparksketch import view
        from sparksketch.view import _read_manifest
        monkeypatch.setattr(view, "_GROUPS_PER_BUCKET", 1)
        path = str(tmp_path / "wide")
        ev = events.withColumn("k", F.col("event_id") % 400)
        view_materialize(ev, ["k"], self.SPEC, ["user_id"], path)
        segs = -(-33 // spark.sparkContext.defaultParallelism)
        for _ in range(segs - 1):
            view_append(ev, self.SPEC, ["user_id"], path)
        assert sum(len(r.files) for r in _read_manifest(path).rows) > 32
        sc = spark.sparkContext
        sc.setJobGroup("wide-view-query", "view_query of many files")
        try:
            got = view_query(spark, path, group_cols=[]).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert got[0]["rows"] == segs * events.count()
        st = sc.statusTracker()
        names = [st.getStageInfo(s).name
                 for j in st.getJobIdsForGroup("wide-view-query")
                 for s in st.getJobInfo(j).stageIds]
        assert names
        assert not [n for n in names if n.startswith("parquet at")], names

    def test_view_calls_use_no_spark_writer_or_inference_job(
            self, spark, events, tmp_path, monkeypatch):
        """Views write through no ``DataFrameWriter``, and a warm
        ``view_query`` runs no schema-inference or listing job (stages
        named ``parquet at ...``)."""
        def no_writer(df):
            raise AssertionError("a view call used DataFrame.write")

        monkeypatch.setattr(type(events), "write", property(no_writer))
        path = self._build(events, tmp_path)
        view_compact(spark, path)
        view_query(spark, path).collect()  # warm
        sc = spark.sparkContext
        sc.setJobGroup("warm-view-query", "warm view_query")
        try:
            view_query(spark, path).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        st = sc.statusTracker()
        names = [st.getStageInfo(s).name
                 for j in st.getJobIdsForGroup("warm-view-query")
                 for s in st.getJobInfo(j).stageIds]
        assert names
        assert not [n for n in names if n.startswith("parquet at")], names


def _golden_view(spark, sf_dir, tmp_path, spec, cols):
    """The golden digests' view: sf0.01 events with dims (event_type, an
    int ``b`` with NULLs), split in three by event_id and folded through
    materialize and two appends.  Skips where the sf0.01 events are
    missing."""
    import os
    sf01 = os.path.join(os.path.dirname(os.path.normpath(sf_dir)), "sf0.01")
    if not os.path.exists(f"{sf01}/events.parquet"):
        pytest.skip("golden digests are recorded for the sf0.01 events")
    ev = (spark.read.parquet(f"{sf01}/events.parquet")
          .withColumn("b", F.when(F.col("event_id") % 7 != 0,
                                  F.pmod(F.xxhash64("user_id"), F.lit(5)))
                      .cast("int"))
          .repartition(4, "event_id").sortWithinPartitions("event_id"))
    part = [ev.filter(F.col("event_id") % 3 == i) for i in range(3)]
    path = str(tmp_path / "gview")
    view_materialize(part[0], ["event_type", "b"], spec, cols, path)
    view_append(part[1], spec, cols, path)
    view_append(part[2], spec, cols, path)
    return path


def _digest(rows, keys) -> str:
    """sha256 of sketch rows sorted by their (keys, rows) repr."""
    import hashlib
    h = hashlib.sha256()
    for key, n, blob in sorted(((tuple(r[k] for k in keys), r["rows"],
                                 bytes(r["sketch"])) for r in rows),
                               key=repr):
        h.update(repr((key, n)).encode())
        h.update(blob)
    return h.hexdigest()


# sha256 of the compacted segment's sorted (dims, rows, sketch) rows of
# the golden view.  Recorded before segments were bucketed; the layout must
# not move a byte.
@pytest.mark.parametrize("spec,cols,digest", [
    pytest.param(HLLSpec(p=10), ["user_id"],
                 "45ee424a6e1286adcf934fcb86ea795feb406feb682ee87353751e8a73c1b8e4",
                 id="hll"),
    pytest.param(BottomKSpec(k=256), ["user_id"],
                 "c63a36e4aa7e25197d94b99e16b6f43a52912d2c2ff0b960ae727e79646a8777",
                 id="bottomk"),
    pytest.param(KLLSpec(k=32, col="value"), ["event_id"],
                 "b1139e3f5a5a537faaa82a7ba53bec5c6b1a230893f2517ae84a509686768544",
                 id="kll"),
])
def test_compacted_segment_golden_bytes(spark, sf_dir, tmp_path, spec, cols,
                                        digest):
    import pyarrow.parquet as pq

    from sparksketch.view import _read_manifest
    path = _golden_view(spark, sf_dir, tmp_path, spec, cols)
    seg = view_compact(spark, path)
    rows = []
    for f in _read_manifest(path).rows[-1].files:
        assert f.startswith(f"seg={seg}/")
        rows += pq.read_table(f"{path}/segments/{f}").to_pylist()
    assert _digest(rows, ["event_type", "b"]) == digest


# sha256 of view_rows of the golden view at group_cols ["b"], at [] and at
# its dims under ``where b < 3``, with one bucket and with four.  Recorded
# while queries still scanned the segment files with Spark; KLL bytes
# follow the merge order, so this pins each group's merge in (other dims,
# segment) order.
@pytest.mark.parametrize("nbuckets", [1, 4])
@pytest.mark.parametrize("spec,cols,digests", [
    pytest.param(HLLSpec(p=10), ["user_id"], (
        "8bd690428e14dec87a12cb907b9eac41ba13b8da0ea1a4858eab8a8cbe4f2829",
        "e5dbfd854cea402b832bd5021545dec000b2487f0c4ca26ad57ed06da085f581",
        "cc6d3f0c171a44f9b8e616f2c12df1d53ba32880a98a104d26d49260a54495cd"),
        id="hll"),
    pytest.param(KLLSpec(k=32, col="value"), ["event_id"], (
        "f662616c1f4d94638ebb2e216e72c219f3d00d44b31eb4c5f33ad3894b370835",
        "f4a2e5dd77a4df80d9fe96cd8905b1c66cc5364edb2216313fef85d0151fa7c4",
        "3dfa454c355270cc5c7d1ff5acf85f7db3117542d7808a418ccb7fcef10e0f5d"),
        id="kll"),
])
def test_view_rows_golden_bytes(spark, sf_dir, tmp_path, monkeypatch, spec,
                                cols, digests, nbuckets):
    from sparksketch import view
    from sparksketch.view import _read_manifest
    if nbuckets > 1:  # one group per bucket: B is the default parallelism
        monkeypatch.setattr(view, "_GROUPS_PER_BUCKET", 1)
    path = _golden_view(spark, sf_dir, tmp_path, spec, cols)
    assert _read_manifest(path).nbuckets == nbuckets
    got = []
    for group_cols, where in ((["b"], None), ([], None),
                              (None, F.col("b") < 3)):
        rows = view_rows(spark, path, group_cols, where).collect()
        keys = ["event_type", "b"] if group_cols is None else group_cols
        got.append(_digest((r.asDict() for r in rows), keys))
    assert tuple(got) == digests
