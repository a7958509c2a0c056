"""Pipeline-operator tests: checkpoint/resume lineage, ANN scale paths
(recall on clustered embeddings), minhash/simhash accuracy, multimodal
plumbing determinism."""

import numpy as np
import pytest
from pyspark.sql import functions as F

pytestmark = pytest.mark.spark


class TestCheckpointResume:
    def test_resume_builds_only_missing_and_matches_direct(self, spark,
                                                           tmp_path):
        from sparksketch.agg import (BloomSpec, build_partials,
                                     tree_aggregate)
        from sparksketch.checkpoint import (checkpoint_partials,
                                            merged_sketch_bytes,
                                            missing_pids, resume)
        from sparksketch.shape import Shape

        df = (spark.range(0, 5000, 1, 8)
              .select(F.concat(F.lit("u"), F.col("id") % 700)
                      .alias("user_id")))
        spec = BloomSpec(Shape.from_np(2000, 1e-6))
        ckpt = str(tmp_path)

        # interrupted run: only half the partitions complete
        m1 = checkpoint_partials(df, spec, ["user_id"], ckpt, "r1",
                                 only_pids={0, 1, 2, 3})
        assert missing_pids(ckpt, "r1") == {4, 5, 6, 7}
        assert len(m1.completed) == 4
        assert all(v["rows"] > 0 and v["wall_sec"] >= 0
                   for v in m1.completed.values())

        # resume completes exactly the missing pids
        m2 = resume(spark, df, spec, ["user_id"], ckpt, "r1")
        assert missing_pids(ckpt, "r1") == set()
        assert len(m2.completed) == 8

        # merged state == direct un-checkpointed build, byte-identical
        resumed = merged_sketch_bytes(spark, ckpt, "r1")
        direct = tree_aggregate(build_partials(df, spec, ["user_id"]))
        assert resumed == direct

        # resume again is a no-op
        m3 = resume(spark, df, spec, ["user_id"], ckpt, "r1")
        assert len(m3.completed) == 8

    def test_resume_crosses_only_missing_partitions(self, spark, tmp_path):
        """resume must not send the completed partitions' rows to Python:
        the rows entering MapInPandas during the resume job (Spark's SQL
        metrics) equal the rows of the missing pids alone."""
        from perfbench.sparkstats import SparkStats
        from sparksketch.agg import HLLSpec
        from sparksketch.checkpoint import checkpoint_partials, resume

        df = (spark.range(0, 4000, 1, 8)
              .select(F.concat(F.lit("u"), F.col("id")).alias("user_id")))
        spec, ckpt = HLLSpec(p=10), str(tmp_path)
        checkpoint_partials(df, spec, ["user_id"], ckpt, "r3",
                            only_pids={0, 1, 2, 5, 6, 7})
        sc = spark.sparkContext
        sc.setJobGroup("resume-crossing", "resume of pids 3 and 4")
        try:
            m = resume(spark, df, spec, ["user_id"], ckpt, "r3")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        stats = SparkStats(spark).group("resume-crossing")
        assert stats["py_ops"] == 1
        assert stats["py_rows_in"] == 1000  # 2 of 8 partitions x 500 rows
        assert sorted(int(p) for p in m.completed) == list(range(8))
        assert m.completed["3"]["rows"] == m.completed["4"]["rows"] == 500

    def test_failed_manifest_write_keeps_prior_manifest(self, spark,
                                                        tmp_path,
                                                        monkeypatch):
        """A manifest write that dies after writing part of its JSON leaves
        the prior manifest loadable, and a later resume still yields bytes
        equal to a full build."""
        import builtins

        import sparksketch.io as sparksketch_io
        from sparksketch.agg import HLLSpec, build_partials, tree_aggregate
        from sparksketch.checkpoint import (checkpoint_partials,
                                            merged_sketch_bytes,
                                            missing_pids, resume)

        class TornFile:
            def __init__(self, f):
                self.f = f

            def __enter__(self):
                return self

            def __exit__(self, *exc):
                self.f.close()

            def write(self, text):
                self.f.write(text[:len(text) // 2])
                self.f.flush()
                raise OSError("disk full")

        def torn_open(path, mode="r", *args, **kwargs):
            f = builtins.open(path, mode, *args, **kwargs)
            return TornFile(f) if "w" in mode else f

        df = (spark.range(0, 3000, 1, 6)
              .select(F.concat(F.lit("u"), F.col("id") % 900)
                      .alias("user_id")))
        spec, ckpt = HLLSpec(p=10), str(tmp_path)
        checkpoint_partials(df, spec, ["user_id"], ckpt, "r4",
                            only_pids={0, 1, 2})
        manifest = tmp_path / "manifest_r4.json"
        before = manifest.read_text()

        monkeypatch.setattr(sparksketch_io, "open", torn_open,
                            raising=False)
        with pytest.raises(OSError, match="disk full"):
            resume(spark, df, spec, ["user_id"], ckpt, "r4")
        monkeypatch.undo()
        assert manifest.read_text() == before
        assert missing_pids(ckpt, "r4") == {3, 4, 5}
        assert sorted(p.name for p in tmp_path.iterdir()
                      if p.name.startswith("manifest")) == ["manifest_r4.json"]

        resume(spark, df, spec, ["user_id"], ckpt, "r4")
        assert missing_pids(ckpt, "r4") == set()
        assert merged_sketch_bytes(spark, ckpt, "r4") == tree_aggregate(
            build_partials(df, spec, ["user_id"]))

    def test_empty_partitions_emit_empty_rows(self, spark, tmp_path):
        """A partition with no rows still emits its row: the spec's empty
        bytes with ``rows = 0``, so a checkpoint records every pid as
        complete.  HLL (register-block kernel) and Bloom/KLL (per-batch
        update) both keep the rule."""
        from sparksketch.agg import (BloomSpec, HLLSpec, KLLSpec,
                                     build_partials_multi)
        from sparksketch.checkpoint import checkpoint_partials, missing_pids
        from sparksketch.shape import Shape

        # range splits contiguously: ids < 250 all sit in partition 0
        df = (spark.range(0, 1000, 1, 4).filter(F.col("id") < 250)
              .select(F.concat(F.lit("u"), F.col("id")).alias("user_id"),
                      F.col("id").cast("double").alias("v")))
        specs = {"hll": (HLLSpec(p=10), ["user_id"]),
                 "bloom": (BloomSpec(Shape.from_np(500, 1e-3)), ["user_id"]),
                 "kll": (KLLSpec(k=64, col="v"), ["user_id"])}
        rows = build_partials_multi(df, specs).toPandas().sort_values("pid")
        assert rows["pid"].tolist() == [0, 1, 2, 3]
        assert rows["rows"].tolist() == [250, 0, 0, 0]
        for n, (spec, _) in specs.items():
            empty = spec.empty().to_bytes()
            assert bytes(rows[n].iloc[0]) != empty
            assert [bytes(b) for b in rows[n].iloc[1:]] == [empty] * 3, n

        ckpt = str(tmp_path)
        m = checkpoint_partials(df, specs["hll"][0], ["user_id"], ckpt, "r5")
        assert missing_pids(ckpt, "r5") == set()
        assert {p: v["rows"] for p, v in m.completed.items()} == {
            "0": 250, "1": 0, "2": 0, "3": 0}

    def test_retry_dedup_by_pid(self, spark, tmp_path):
        """A re-run of an already-complete pid (retry after lost manifest
        write) must not double-count.  The merge does not de-duplicate:
        the manifest lists one file per pid, the re-run's file replacing
        the earlier one."""
        from sparksketch.agg import HLLSpec
        from sparksketch.checkpoint import (checkpoint_partials,
                                            merged_sketch_bytes)
        from sparksketch.sketches import sketch_from_bytes

        df = (spark.range(0, 2000, 1, 4)
              .select(F.concat(F.lit("u"), F.col("id")).alias("user_id")))
        ckpt = str(tmp_path)
        checkpoint_partials(df, HLLSpec(p=12), ["user_id"], ckpt, "r2")
        # simulate a retry appending pid 0 again
        checkpoint_partials(df, HLLSpec(p=12), ["user_id"], ckpt, "r2",
                            only_pids={0})
        est = sketch_from_bytes(
            merged_sketch_bytes(spark, ckpt, "r2")).estimate()
        assert abs(est - 2000) <= 2000 * 0.1


    def test_stray_file_is_never_read(self, spark, tmp_path):
        """The merge opens only the manifest's files: a parquet file
        dropped into the partials directory, holding sketch rows for a new
        pid and for pid 0, changes nothing."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from sparksketch.agg import HLLSpec
        from sparksketch.checkpoint import (checkpoint_partials,
                                            merged_sketch_bytes)
        from sparksketch.sketches import HyperLogLog

        df = (spark.range(0, 2000, 1, 4)
              .select(F.concat(F.lit("u"), F.col("id")).alias("user_id")))
        ckpt = str(tmp_path)
        checkpoint_partials(df, HLLSpec(p=10), ["user_id"], ckpt, "r6")
        before = merged_sketch_bytes(spark, ckpt, "r6")
        other = HyperLogLog(10)
        other.add_hashes(np.arange(1, 5001, dtype=np.int64) * 7919)
        blob = other.to_bytes()
        pq.write_table(pa.table({
            "pid": pa.array([4, 0], pa.int64()),
            "rows": pa.array([5000, 5000], pa.int64()),
            "sketch": pa.array([blob, blob], pa.binary()),
            "wall_sec": pa.array([0.0, 0.0])}),
            tmp_path / "partials_r6" / "part-00004-stray.parquet")
        assert merged_sketch_bytes(spark, ckpt, "r6") == before

    def test_run_must_match_its_manifest(self, spark, tmp_path):
        """resume and checkpoint_partials refuse a run whose manifest
        records another partition count or spec, and leave the manifest
        as it was."""
        from sparksketch.agg import HLLSpec
        from sparksketch.checkpoint import checkpoint_partials, resume

        df = (spark.range(0, 4000, 1, 8)
              .select(F.concat(F.lit("u"), F.col("id")).alias("user_id")))
        ckpt = str(tmp_path)
        checkpoint_partials(df, HLLSpec(p=12), ["user_id"], ckpt, "r7")
        manifest = tmp_path / "manifest_r7.json"
        before = manifest.read_text()
        with pytest.raises(ValueError, match="n_partitions 8, not 4"):
            resume(spark, df.coalesce(4), HLLSpec(p=12), ["user_id"], ckpt,
                   "r7")
        with pytest.raises(ValueError, match="p=12.*p=14"):
            resume(spark, df, HLLSpec(p=14), ["user_id"], ckpt, "r7")
        with pytest.raises(ValueError, match="p=12.*p=14"):
            checkpoint_partials(df, HLLSpec(p=14), ["user_id"], ckpt, "r7",
                                only_pids={0})
        assert manifest.read_text() == before

    def test_one_job_per_build_none_per_merge(self, spark, tmp_path):
        """checkpoint_partials and resume each run one Spark job, the
        build that writes the files; merged_sketch_bytes runs none."""
        from sparksketch.agg import HLLSpec
        from sparksketch.checkpoint import (checkpoint_partials,
                                            merged_sketch_bytes, resume)

        df = (spark.range(0, 2000, 1, 4)
              .select(F.concat(F.lit("u"), F.col("id")).alias("user_id")))
        spec, ckpt, sc = HLLSpec(p=10), str(tmp_path), spark.sparkContext
        calls = {
            "checkpoint": lambda: checkpoint_partials(
                df, spec, ["user_id"], ckpt, "r8", only_pids={0, 1}),
            "resume": lambda: resume(spark, df, spec, ["user_id"], ckpt,
                                     "r8"),
            "merge": lambda: merged_sketch_bytes(spark, ckpt, "r8")}
        jobs = {}
        for name, call in calls.items():
            sc.setJobGroup(f"ckpt-jobs-{name}", name)
            try:
                call()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            jobs[name] = len(sc.statusTracker().getJobIdsForGroup(
                f"ckpt-jobs-{name}"))
        assert jobs == {"checkpoint": 1, "resume": 1, "merge": 0}

class TestHeavyHitters:
    def test_no_false_negatives_and_exact_regime(self, spark):
        from sparksketch.agg import cms_heavy_hitters
        rows = ([("hot",)] * 500 + [("warm",)] * 120
                + [(f"cold{i % 40}",) for i in range(200)])
        df = spark.createDataFrame(rows, "k string").repartition(8)
        got = {r.k: r.est_count
               for r in cms_heavy_hitters(df, ["k"], min_count=100,
                                          w=1 << 14, d=5).collect()}
        # recall: every key >= min_count present, with exact-regime counts
        assert got.get("hot") == 500
        assert got.get("warm") == 120
        # precision in the exact regime: no cold key (max count 5) appears
        assert set(got) == {"hot", "warm"}


def _clustered_embeddings(spark, n_clusters=8, per_cluster=40, dim=16,
                          seed=7):
    rng = np.random.default_rng(seed)
    centers = rng.standard_normal((n_clusters, dim)) * 3
    rows = []
    vid = 0
    for c in range(n_clusters):
        for _ in range(per_cluster):
            v = centers[c] + rng.standard_normal(dim) * 0.15
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    return (spark.createDataFrame(rows, "vec_id bigint, embedding array<double>"),
            centers)


class TestANN:
    def test_ivf_and_lsh_recall_on_clustered_data(self, spark):
        from sparksketch.similarity import (cosine_topk, ivf_topk,
                                            signlsh_topk)
        emb, centers = _clustered_embeddings(spark)
        q = centers[3] * 1.02
        truth = {r.vec_id for r in
                 cosine_topk(emb, q, k=10).collect()}
        ivf = {r.vec_id for r in
               ivf_topk(emb, q, k=10, n_centroids=8, n_probe=3).collect()}
        lsh = {r.vec_id for r in
               signlsh_topk(emb, q, k=10, n_planes=10, max_flip=3).collect()}
        assert len(truth & ivf) >= 7
        assert len(truth & lsh) >= 7

    def test_bruteforce_matches_numpy(self, spark):
        from sparksketch.similarity import cosine_topk
        emb, centers = _clustered_embeddings(spark, n_clusters=4,
                                             per_cluster=25)
        q = centers[1]
        rows = emb.orderBy("vec_id").collect()
        mat = np.array([r.embedding for r in rows])
        sims = mat @ q / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
        want = set(np.argsort(-np.round(sims, 5))[:10].tolist())
        got = {r.vec_id for r in cosine_topk(emb, q, k=10).collect()}
        # rounding ties can swap the boundary entry
        assert len(want & got) >= 9


class TestDedupAccuracy:
    def test_minhash_estimates_exact_jaccard(self, spark):
        from sparksketch.dedup import (exact_jaccard_pairs,
                                       minhash_signatures,
                                       signature_jaccard)
        # doc pairs with controlled shingle overlap
        words = [f"w{i}" for i in range(60)]
        docs = [(0, " ".join(words[:40])),
                (1, " ".join(words[20:60])),   # ~1/3 trigram overlap w/ 0
                (2, " ".join(words[:40]))]     # identical to 0
        df = spark.createDataFrame(docs, "doc_id bigint, text string")
        sigs = minhash_signatures(df, "doc_id", n_perm=256, shingle_n=3)
        pairs = spark.createDataFrame(
            [(0, 1), (0, 2)], "id_a bigint, id_b bigint")
        est = {(r.id_a, r.id_b): r.est_jaccard
               for r in signature_jaccard(sigs, pairs, "doc_id").collect()}
        exact = {(r.id_a, r.id_b): r.jaccard
                 for r in exact_jaccard_pairs(df, "doc_id", shingle_n=3)
                 .collect()}
        assert est[(0, 2)] == 1.0 and exact[(0, 2)] == 1.0
        assert abs(est[(0, 1)] - exact[(0, 1)]) <= 3 / np.sqrt(256)

    def test_lsh_chained_exact_verify_full_recall(self, spark, sf_dir):
        """The scale path (LSH candidates -> array-intersect exact verify)
        must return EXACTLY the pairs the unbounded inverted-index join
        returns at the 0.5 threshold on the driver corpus."""
        from sparksketch.dedup import (exact_jaccard_pairs,
                                       lsh_candidate_pairs,
                                       minhash_signatures)
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        full = set(map(tuple, exact_jaccard_pairs(
            docs, "doc_id", shingle_n=3, threshold=0.5).collect()))
        sigs = minhash_signatures(docs, "doc_id", n_perm=32, shingle_n=3)
        cands = lsh_candidate_pairs(sigs, "doc_id", bands=16,
                                    rows_per_band=2)
        chained = set(map(tuple, exact_jaccard_pairs(
            docs, "doc_id", shingle_n=3, threshold=0.5,
            pairs=cands).collect()))
        assert full and chained == full
        # the shared-gram verify path (round 5: one tokenize+hash pass
        # feeds signatures and the per-pair verify) is value-identical
        from sparksketch.dedup import gram_hash_arrays
        grams = gram_hash_arrays(docs, "doc_id", "text", shingle_n=3)
        shared = set(map(tuple, exact_jaccard_pairs(
            docs, "doc_id", shingle_n=3, threshold=0.5,
            pairs=cands, grams=grams).collect()))
        assert shared == full

    def test_prefix_join_equals_inverted_index(self, spark, sf_dir):
        """jaccard_prefix_pairs (AllPairs prefix filtering — the new
        scale-safe exact path, round-3 VERDICT #2) must return EXACTLY
        the pairs the full inverted-index join returns, at several
        thresholds, on the driver corpus."""
        from sparksketch.dedup import jaccard_prefix_pairs, shingles
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        # independent truth: full inverted-index join (quadratic — test
        # corpus only), built inline so the test does not depend on the
        # code path under test
        sh = shingles(docs, "doc_id", "text", 3)
        sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
        a = sh.select(F.col("doc_id").alias("id_a"), "sh")
        b = sh.select(F.col("doc_id").alias("id_b"), "sh")
        inter = (a.join(b, ["sh"]).filter(F.col("id_a") < F.col("id_b"))
                 .groupBy("id_a", "id_b").agg(F.count("*").alias("i")))
        scored = (inter
                  .join(sizes.select(F.col("doc_id").alias("id_a"),
                                     F.col("sz").alias("sza")), "id_a")
                  .join(sizes.select(F.col("doc_id").alias("id_b"),
                                     F.col("sz").alias("szb")), "id_b")
                  .withColumn("j", F.col("i") / (F.col("sza") + F.col("szb")
                                                 - F.col("i"))))
        for t in (0.3, 0.5, 0.9):
            truth = {(r.id_a, r.id_b)
                     for r in scored.filter(F.col("j") >= t).collect()}
            got = {(r.id_a, r.id_b)
                   for r in jaccard_prefix_pairs(
                       docs, "doc_id", shingle_n=3, threshold=t).collect()}
            assert got == truth, f"threshold {t}"
        assert truth  # 0.9 threshold still has planted dups

    def test_bpe_token_count_cross_engine(self, spark):
        """The BPE-ish tokenizer pattern must tokenize identically in
        Spark (java.util.regex) and DuckDB (RE2) — both leftmost-first —
        on contraction/digit/punct/unicode edge cases, or the driver
        oracle would silently depend on engine quirks."""
        import duckdb
        from sparksketch.text import BPE_SPLIT_PATTERN, with_bpe_token_count
        texts = ["I'll say it's done, won't you?  123 abc-def...",
                 "hello world", "a1b2 c3", "  spaces   and\ttabs ",
                 "naïve café £5.50", ""]
        df = spark.createDataFrame([(t,) for t in texts], "text string")
        got = {r.text: r.n_bpe_tokens
               for r in with_bpe_token_count(df).collect()}
        for t in texts:
            n = duckdb.sql("SELECT len(regexp_extract_all(?, ?))",
                           params=[t, BPE_SPLIT_PATTERN]).fetchone()[0]
            assert got[t] == n, (t, got[t], n)

    def test_high_dim_pandas_path_matches_numpy(self, spark):
        """dim 512 > similarity.HIGH_DIM routes constant-vector dots
        through the pandas matmul UDF; top-k must equal the NumPy
        brute-force answer exactly, and sign-LSH bucketing must still
        return planted duplicates."""
        from sparksketch.dedup import embedding_near_dups
        from sparksketch.similarity import HIGH_DIM, cosine_topk
        dim = 512
        assert dim > HIGH_DIM
        rng = np.random.default_rng(12)
        X = rng.standard_normal((300, dim)).astype(np.float32)
        rows = [(i, X[i].tolist()) for i in range(300)]
        emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
        q = X[0].astype(np.float64)
        got = [r.vec_id for r in cosine_topk(emb, q, k=10,
                                             exclude_id=0).collect()]
        sims = (X.astype(np.float64) @ q) / (
            np.linalg.norm(X.astype(np.float64), axis=1) * np.linalg.norm(q))
        order = [i for i in np.argsort(-np.round(sims, 5), kind="stable")
                 if i != 0][:10]
        assert got == [int(i) for i in order]
        # planted scaled copies (cosine 1.0) must come back as near-dups
        planted = [(1_000_000 + i, (X[i] * 1.5).tolist()) for i in range(5)]
        emb2 = emb.unionByName(spark.createDataFrame(
            planted, "vec_id bigint, embedding array<float>"))
        dups = {(r.id_a, r.id_b) for r in
                embedding_near_dups(emb2, threshold=0.99).collect()}
        for i in range(5):
            assert (i, 1_000_000 + i) in dups

    def test_winnowing_shared_run_guarantee(self, spark):
        from sparksketch.dedup import (fingerprint_overlap_pairs,
                                       winnowed_fingerprints)
        k, w = 5, 4
        shared_run = " ".join(f"s{i}" for i in range(k + w + 6))
        docs = [(0, "a b c " + shared_run),
                (1, shared_run + " x y z"),     # shares the long run with 0
                (2, " ".join(f"q{i}" for i in range(30)))]
        df = spark.createDataFrame(docs, "doc_id bigint, text string")
        fps = winnowed_fingerprints(df, "doc_id", k=k, window=w)
        rows = {r.doc_id: set(r.fingerprints) for r in fps.collect()}
        # winnowing guarantee: a shared token run >= window+k-1 yields at
        # least one shared fingerprint
        assert rows[0] & rows[1]
        assert not (rows[0] & rows[2]) and not (rows[1] & rows[2])
        # determinism + density: far fewer fingerprints than grams
        assert all(0 < len(v) <= 40 for v in rows.values())
        pairs = {(r.id_a, r.id_b)
                 for r in fingerprint_overlap_pairs(fps, "doc_id",
                                                    min_shared=1).collect()}
        assert pairs == {(0, 1)}

    def test_simhash_near_identical_docs(self, spark):
        from sparksketch.dedup import simhash_near_dups
        base = " ".join(f"tok{i}" for i in range(100))
        tweaked = base.replace("tok50", "tokX")
        other = " ".join(f"zzz{i}" for i in range(100))
        df = spark.createDataFrame(
            [(0, base), (1, tweaked), (2, other)],
            "doc_id bigint, text string")
        pairs = {(r.id_a, r.id_b): r.hamming
                 for r in simhash_near_dups(df, "doc_id",
                                            max_hamming=10).collect()}
        assert (0, 1) in pairs
        assert (0, 2) not in pairs and (1, 2) not in pairs


class TestMultimodal:
    def test_image_features_deterministic_schema(self, spark):
        from sparksketch.multimodal import image_features, synthesize_media
        media = synthesize_media(spark, n=30)
        a = image_features(media, fake=True).orderBy("media_id").collect()
        b = image_features(media, fake=True).orderBy("media_id").collect()
        assert [tuple(r) for r in a] == [tuple(r) for r in b]
        assert len(a) == 10  # one third of kinds are images
        r0 = a[0]
        assert 0 <= r0.mean_r <= 255 and len(r0.histo) == 16

    def test_decode_stub_raises_without_fake(self, spark):
        from sparksketch.multimodal import decode_image
        with pytest.raises(NotImplementedError):
            decode_image(b"abc", fake=False)

    def test_ppm_codec_roundtrip(self):
        """Real P6 codec: encode/decode round-trips exactly, survives
        header comments, rejects non-8-bit."""
        from sparksketch.multimodal import decode_ppm, encode_ppm
        rng = np.random.default_rng(4)
        px = rng.integers(0, 256, size=(7, 5, 3), dtype=np.uint8)
        assert np.array_equal(decode_ppm(encode_ppm(px)), px)
        commented = b"P6\n# a comment\n5 7\n255\n" + px.tobytes()
        assert np.array_equal(decode_ppm(commented), px)
        with pytest.raises(ValueError):
            decode_ppm(b"P6\n2 2\n65535\n" + b"\0" * 24)

    def test_wav_codec_roundtrip_and_features(self):
        """Real RIFF/WAV PCM16 codec: round-trip, stereo downmix, and the
        FFT dominant-frequency feature recovers a known sine."""
        from sparksketch.multimodal import decode_wav, encode_wav
        t = np.arange(3200) / 16000.0
        s = (np.sin(2 * np.pi * 440.0 * t) * 16000).astype(np.int16)
        x, rate = decode_wav(encode_wav(s, rate=16000))
        assert rate == 16000 and x.size == 3200
        assert np.allclose(x, s / 32768.0, atol=1e-6)
        spec = np.abs(np.fft.rfft(x))
        dom = (np.argmax(spec[1:]) + 1) * rate / x.size
        assert abs(dom - 440.0) <= rate / x.size  # one FFT bin
        with pytest.raises(ValueError):
            decode_wav(b"RIFFxxxxNOPE")

    def test_audio_features_distributed(self, spark):
        from sparksketch.multimodal import audio_features, synthesize_media
        rows = audio_features(synthesize_media(spark, n=12)).collect()
        assert len(rows) == 4  # one third of kinds are audio
        for r in rows:
            assert r.n_samples == 1600 and r.sample_rate == 16000
            assert 190 <= r.dominant_hz <= 410 and 0.2 <= r.rms <= 0.3


class TestBpeCrossEngineRandom:
    def test_random_strings_tokenize_identically(self, spark):
        """Randomized cross-engine agreement: 200 seeded random strings
        over a mixed alphabet (letters, digits, punctuation, unicode,
        apostrophes, whitespace runs) must tokenize to the same counts in
        Spark's java.util.regex and DuckDB's RE2."""
        import duckdb
        from sparksketch.text import BPE_SPLIT_PATTERN, with_bpe_token_count
        rng = np.random.default_rng(99)
        alphabet = list("abz XYZ 019 .,!?-_'\"\t\n()[]") + ["é", "ß", "中"]
        texts = ["".join(rng.choice(alphabet, size=rng.integers(0, 60)))
                 for _ in range(200)]
        df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                                   "i long, text string")
        got = {r.i: r.n_bpe_tokens
               for r in with_bpe_token_count(df).collect()}
        for i, t in enumerate(texts):
            n = duckdb.sql("SELECT len(regexp_extract_all(?, ?))",
                           params=[t, BPE_SPLIT_PATTERN]).fetchone()[0]
            assert got[i] == n, (repr(t), got[i], n)


class TestDedupClusters:
    def test_chain_and_singletons(self, spark):
        from sparksketch.dedup import connected_components, dedup_clusters
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (7, 8)], "id_a bigint, id_b bigint")
        comp = {r.node: r.comp for r in
                connected_components(edges).collect()}
        assert comp == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7}
        docs = spark.createDataFrame([(i,) for i in (1, 2, 3, 7, 8, 9)],
                                     "doc_id bigint")
        out = {r.doc_id: (r.cluster_id, r.is_canonical) for r in
               dedup_clusters(docs, edges).collect()}
        assert out == {1: (1, True), 2: (1, False), 3: (1, False),
                       7: (7, True), 8: (7, False), 9: (9, True)}

    def test_long_chain_pointer_jumping(self, spark):
        """A 24-node path graph collapses to one component well inside the
        iteration cap (pointer jumping makes rounds O(log n), not O(n))."""
        from sparksketch.dedup import connected_components
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(23)], "id_a bigint, id_b bigint")
        comp = {r.node: r.comp for r in
                connected_components(edges, max_iter=10).collect()}
        assert set(comp.values()) == {0} and len(comp) == 24
